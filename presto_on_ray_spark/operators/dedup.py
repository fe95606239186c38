"""Deduplication operators (SURVEY §2.11 — training-data pipeline).

Four tiers, all scale-first designs:

- **exact**: hash-groupBy on a content digest. One shuffle on the
  digest; survivors picked by deterministic min-id. At 100 TB the
  shuffle carries (digest, id) pairs only, never document bodies.
- **ngram-Jaccard**: join-based set-similarity — explode distinct
  shingles, self-join on shingle, count co-occurrences. This IS the
  scalable algorithm (prefix-filter-style); no O(n²) pair loop.
- **MinHash + LSH**: signature via k hash permutations (pure
  higher-order functions, no UDF crossing), banded into buckets;
  candidate pairs only form within a bucket — the 100 TB path where
  even the shingle join is too big.
- **SimHash**: 64-bit near-dup fingerprint via bitwise HOFs.
"""

from __future__ import annotations

import contextlib
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from presto_on_ray_spark import store as store_proto
from presto_on_ray_spark.caching import tracked_persist
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.suite import query

# Deterministic MinHash permutation parameters h_i(x) = (a_i*x + b_i) mod p.
# 31-bit Mersenne prime keeps a*x < 2^62: no long overflow under Spark 4's
# ANSI arithmetic (overflow would throw, not wrap).
_MERSENNE_P = (1 << 31) - 1
_NUM_HASHES = 32
_LSH_BANDS = 8  # 8 bands x 4 rows


def _perm_params(i: int) -> tuple[int, int]:
    # Fixed pseudo-random odd multipliers/offsets derived from splitmix-
    # style constants; deterministic across runs and machines.
    a = (0x9E3779B97F4A7C15 * (i + 1) + 0xBF58476D1CE4E5B9) % _MERSENNE_P | 1
    b = (0x94D049BB133111EB * (i + 1) + 0x2545F4914F6CDD1D) % _MERSENNE_P
    return a, b


def _window_starts(ws, k: int):
    """1-based start positions of all k-word windows of ``ws`` — empty
    when the doc is shorter than k words. The naive
    ``sequence(1, greatest(size-k+1, 0))`` is WRONG there: Spark's
    sequence(1, 0) DESCENDS to [1, 0] and the subsequent slice(..., 0, k)
    throws INVALID_PARAMETER_VALUE.START (VERDICT r8; DuckDB's
    RANGE(1, 1) is empty-correct — an asymmetric engine trap)."""
    return F.when(
        F.size(ws) >= k, F.sequence(F.lit(1), F.size(ws) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))


def _rolling_windows(col, k: int, mapper=None):
    """All k-word rolling windows of the whitespace-tokenized ``col``
    as space-joined strings, each optionally passed through ``mapper``
    (a Column -> Column function applied per window).

    The split array is bound as a lambda variable (the 1-element-array
    transform wrapper) so it is evaluated ONCE per row: higher-order
    functions are interpreted, not codegen'd, and an unbound ``split``
    referenced from the inner lambda would re-tokenize the document per
    window index — O(words²) per row, measured 3-4× slower at sf0.1.
    Shared by shingles() and substring_window_stats() so window-edge
    fixes (like the _window_starts short-doc guard) land in one place."""
    words = F.split(col, " ")
    return F.flatten(F.transform(
        F.array(words),
        lambda ws: F.transform(
            _window_starts(ws, k),
            lambda i: (mapper or (lambda c: c))(
                F.array_join(F.slice(ws, i, k), " ")
            ),
        ),
    ))


def shingles(col, n: int = 3):
    """Distinct word n-gram shingles, hashed to i64 (xxhash64 — JVM
    side)."""
    return F.array_distinct(_rolling_windows(col, n, F.xxhash64))


def minhash_signature(shingle_col, n_hashes: int = _NUM_HASHES):
    """k-wide MinHash signature as an array<long> in ONE pass over the
    shingles: fold with a k-wide running-min accumulator, permutation
    constants as literal arrays. Entirely higher-order functions (stays
    in whole-stage codegen), and k x less codegen than k separate
    array_min(transform(...)) columns.

    ``n_hashes`` widens (or narrows) the signature along the SAME
    permutation stream: lane i uses _perm_params(i) regardless of
    width, so a wider signature's first _NUM_HASHES lanes are
    bit-identical to the default's (pinned by tests/test_lsh_dial.py).
    That prefix property is what makes the recall-bounded dial's
    candidate set a superset of the frozen 8x4 construction whenever
    rows_per_band matches.

    ANSI-safety: the 64-bit shingle hash is folded into [0, p) before
    the multiply, keeping a*x within long range (overflow throws under
    Spark 4 ANSI arithmetic).
    """
    a_arr = F.array(*[F.lit(_perm_params(i)[0]).cast("long") for i in range(n_hashes)])
    b_arr = F.array(*[F.lit(_perm_params(i)[1]).cast("long") for i in range(n_hashes)])
    # fold the 64-bit hash into [0, p) ONCE per shingle, outside the
    # k-lane zip — a*(h mod p) mod p == a*h mod p, so signatures are
    # identical while the inner loop does one pmod per lane, not two.
    reduced = F.transform(shingle_col, lambda h: F.pmod(h, F.lit(_MERSENNE_P)))
    return F.aggregate(
        reduced,
        F.array_repeat(F.lit(_MERSENNE_P).cast("long"), n_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                a_arr,
                b_arr,
                lambda a, b: F.pmod(h * a + b, F.lit(_MERSENNE_P)),
            ),
            lambda x, y: F.least(x, y),
        ),
    )


def _band_structs(lane, n_bands: int = _LSH_BANDS, rows_per_band: int | None = None):
    """THE banding layout — the one definition shared by every LSH
    construction (dedup_minhash_lsh's array-signature form, lsh_bands'
    grouped form, the recall-bounded dial, and the cross-construction
    equality test): an array of ``n_bands`` structs where band b's
    bucket is xxhash64 over the comma-joined decimal strings of
    signature lanes [b*r, (b+1)*r).
    ``lane``: i -> Column producing signature lane i (element_at for
    the array form, the grouped min alias for the relation form).
    Defaults reproduce the frozen 8x4 construction byte-identically
    (the saved-index bands relation depends on that layout)."""
    r = rows_per_band if rows_per_band is not None else _NUM_HASHES // n_bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[lane(b * r + j).cast("string") for j in range(r)],
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT MD5(text) AS digest,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY MD5(text)
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: md5-groupBy, deterministic keeper = min doc_id.
    The full pipeline form is exact_dedup_keep() below."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("digest"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup_keep(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Library form: return df with exact-duplicate rows removed,
    keeping the min-id row per digest. Window over digest = one shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


@query(
    "dedup_exact_survivors",
    oracle="""
    SELECT COUNT(*) AS n_docs, COUNT(DISTINCT MD5(text)) AS n_unique,
           COUNT(*) - COUNT(DISTINCT MD5(text)) AS n_removed
    FROM documents
    """,
)
def dedup_exact_survivors(spark, sf_dir):
    """Dedup accounting: total vs unique vs removed."""
    d = t(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_removed"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 0) + 1),
               i -> STRING_SPLIT(text,' ')[i] || ' ' || STRING_SPLIT(text,' ')[i+1] || ' ' || STRING_SPLIT(text,' ')[i+2]
             ))) AS sh
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup detection by exact 3-gram Jaccard >= 0.6 as a
    prefix-filtered set-similarity join (AllPairs/PPJoin family):

    1. shingles ordered by ascending global document frequency;
    2. each doc keeps only its prefix (n - ceil(t*n) + 1 rarest
       shingles) for candidate generation -- any pair with J >= t is
       guaranteed to collide on a prefix shingle;
    3. candidates verified exactly by counting co-occurring shingles
       per candidate pair (a GROUP BY, never a whole-document array:
       per-group state stays O(1), so the verify stage survives
       arbitrarily long documents at 100 TB).

    Same relation as the naive all-co-occurring-pairs join (the oracle
    runs that form), but the join explodes only prefix shingles -- the
    rare ones -- so the 100 TB skew hazard of stop-shingles is filtered
    out by construction, and measured ~25% faster even at sf0.1."""
    from pyspark.sql import Window

    t_thresh = 0.6
    d = t(spark, sf_dir, "documents")
    # shingles carried as xxhash64 i64, not strings: every downstream
    # join/groupBy shuffles 8-byte keys instead of ~20-byte text.
    # Set semantics are unchanged barring a 64-bit collision (~1e-10 at
    # fixture scale, and any collision would be data-, not engine-,
    # dependent); the prefix guarantee needs only SOME consistent
    # global shingle order, which (df, hash) provides.
    grams = shingles(F.col("text"))
    # persisted: reused by ranking, the candidate join, and verification.
    # (Repeated invocations do NOT leak: Spark's CacheManager dedupes by
    # analyzed-plan equality, so an identical call reuses this entry.)
    sh = tracked_persist(d.select("doc_id", F.explode(grams).alias("sh")))
    freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        sh.join(freq, "sh")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.col("n") * t_thresh) + 1
    ).select("doc_id", "sh", "n", "pos")
    # Candidate pruning (all bounds exact — the verify stage recomputes
    # true Jaccard, and every J >= t pair provably survives):
    # 1. AllPairs length filter inside the join: J >= t implies
    #    t <= |A|/|B| <= 1/t.
    # 2. PPJoin ACCUMULATED positional bound (r8; replaces the weaker
    #    per-first-collision form): prefixes share the global (df, hash)
    #    order, so a pair's common shingles appear in the same relative
    #    order in both docs. Aggregating ALL prefix collisions per pair
    #    gives op = |prefix overlap| and the LAST collision's positions
    #    (pamax, pbmax) — which co-occur on one row by that monotonicity
    #    — and every uncounted common shingle sorts after it in BOTH
    #    docs (any smaller common shingle would itself be a prefix
    #    collision), so overlap <= op + min(na-pamax, nb-pbmax). J >= t
    #    needs overlap >= t(na+nb)/(1+t) = 3(na+nb)/8 at t=0.6 —
    #    integer arithmetic, no float edge. The groupBy replaces the
    #    old distinct() (same shuffle key, counters instead of dedup)
    #    and the tighter bound shrinks the verify stage's fan-out —
    #    the term that goes quadratic on saturated shingle spaces
    #    (SCALING.md round 7). Measured: 204k collision rows -> 66k
    #    candidates at sf0.1 (was 69k under the first-collision bound)
    #    and 24.4M -> 9.37M at the saturated sf1 rung (was 9.74M) for
    #    identical result pairs — a strict, free tightening, though on
    #    THIS corpus profile the length filter does most of the work.
    a, b = prefix.alias("a"), prefix.alias("b")
    coll = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("b.n") * t_thresh <= F.col("a.n"))
        & (F.col("a.n") * t_thresh <= F.col("b.n")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    )
    suffix_min = F.least(
        F.col("na") - F.col("pamax"), F.col("nb") - F.col("pbmax")
    )
    cand = (
        coll.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("op"),
            F.max("pa").alias("pamax"),
            F.max("pb").alias("pbmax"),
            F.max("na").alias("na"),  # constant per pair
            F.max("nb").alias("nb"),
        )
        .filter((F.col("op") + suffix_min) * 8 >= 3 * (F.col("na") + F.col("nb")))
        .select("doc_a", "doc_b")
    )
    # Exact verification via co-occurrence counts: fan candidate pairs
    # out to doc_a's shingles, keep those doc_b also has (shingle-key
    # join), count matches per pair. Shuffle volume is bounded by
    # |candidates| x shingles-per-doc -- the prefix filter already made
    # |candidates| small -- and the aggregation state is one counter
    # per pair (vs the old per-doc collect_list array).
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= t_thresh)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def lsh_candidates(d: DataFrame, n_bands: int = _LSH_BANDS,
                   rows_per_band: int = _NUM_HASHES // _LSH_BANDS) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a, doc_b) over a (doc_id, text)
    relation under an EXPLICIT (bands, rows) dial: shingle →
    (bands*rows)-perm minhash signature → bucket join. Pure DataFrame
    ops; the only shuffle keys are (band, band_hash). Defaults
    reproduce the frozen 8x4 construction; lsh_dial() computes the
    cheapest dial meeting a stated recall at a Jaccard threshold."""
    n_hashes = n_bands * rows_per_band
    # Materialization barrier: band hashing references the signature
    # column n_hashes times, and Catalyst's project-collapsing would
    # inline (and re-execute) the signature fold per reference. The
    # persisted intermediate is (doc_id, n_hashes longs) — tiny
    # relative to the corpus.
    sig = tracked_persist(
        d.select(
            "doc_id",
            minhash_signature(shingles(F.col("text")), n_hashes).alias("sig"),
        )
    )
    # Band structs built with literal indices (python loop, no nested
    # lambdas) via the shared _band_structs layout.
    band_structs = _band_structs(
        lambda i: F.element_at(F.col("sig"), i + 1), n_bands, rows_per_band
    )
    banded = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs (SURVEY §2.11): shingle → 32-perm
    minhash signature → 8 bands of 4 → bucket join (lsh_candidates at
    its frozen default dial). No oracle (not SQL-expressible at
    reasonable cost); invariants asserted in tests/test_dedup.py:
    exact duplicates always collide in all bands, candidates' true
    Jaccard is verified in a final exact pass."""
    return lsh_candidates(t(spark, sf_dir, "documents"))


# SimHash bit width, shared by both tier members (well clear of the
# sign bit; plenty for near-dup bins)
_SIMHASH_BITS = 48


def _simhash_fingerprints(d: DataFrame, word_hash) -> DataFrame:
    """(doc_id, simhash) via the majority-vote fold, parameterized by
    the per-word hash expression — the ONE copy of the algorithm both
    tier members run (xxhash64 fast path / portable-md5 oracle twin),
    so the twin relationship can never silently diverge."""
    import functools

    n_bits = _SIMHASH_BITS
    word_hashes = F.transform(F.split("text", " "), word_hash)
    # counts[bit] = sum over words of (bit set ? +1 : -1); the per-bit
    # extraction uses literal shift amounts (shiftright requires them).
    counts = F.aggregate(
        word_hashes,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, i).bitwiseAND(F.lit(1).cast("long")) * 2 - 1)
                    for i in range(n_bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    simhash = functools.reduce(
        lambda acc, i: acc.bitwiseOR(
            F.when(F.element_at(F.col("_counts"), i + 1) > 0, F.lit(1 << i).cast("long"))
            .otherwise(0)
            .cast("long")
        ),
        range(n_bits),
        F.lit(0).cast("long"),
    )
    # persist barrier: `simhash` references _counts 48 times; without
    # materialization, project collapse would re-run the aggregate fold
    # per bit (see the minhash note above).
    counts_df = tracked_persist(d.select("doc_id", counts.alias("_counts")))
    return counts_df.select("doc_id", simhash.alias("simhash"))


@query("dedup_simhash")
def dedup_simhash(spark, sf_dir):
    """SimHash 48-bit fingerprints via bitwise HOFs (no UDF): for each
    bit, majority vote of word-hash bits; near-dups share fingerprints
    up to small Hamming distance (asserted in tests). Rows-only check —
    fingerprints are engine-internal values."""
    d = t(spark, sf_dir, "documents")
    return _simhash_fingerprints(d, lambda w: F.xxhash64(w))


def connected_components(pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
                         max_iterations: int = 20) -> DataFrame:
    """Connected components over an undirected pair list → (node,
    component_id) with component_id = min node id in the component.

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; convergence in
    O(component diameter) rounds (near-dup clusters are tiny — a
    handful of rounds). Each round is pure DataFrame ops (join +
    groupBy min); ``localCheckpoint`` truncates the lineage so the
    plan stays bounded regardless of iteration count (on a cluster,
    prefer ``checkpoint`` with a durable dir). The driver-side loop is
    orchestration only — per-round state never leaves the executors
    except the single convergence scalar (sum of labels, which
    decreases monotonically until fixpoint).

    This is the stage that completes a dedup pipeline at 100 TB:
    candidate pairs (MinHash-LSH / ngram-Jaccard) → clusters → one
    keeper per cluster.
    """
    # symmetrize in ONE pass over the pair relation (explode of the
    # two orientations), never a self-union: a union references
    # ``pairs`` twice, so the (potentially expensive — candidate join
    # + exact verify) upstream DAG would execute TWICE to build the
    # edge set. Measured at the sf1 rung: 150.9 s -> 73 s cold for
    # dedup_neardup_clusters (the pair pipeline re-ran once per union
    # branch); sf0.1 3-run median 5.33 -> 3.80 s. The explode form
    # also avoids materializing an extra checkpointed copy of the
    # pairs.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # checkpoint the edge set FIRST: everything below (nodes, self-loop
    # union, initial labels) derives from it, so the upstream pair-
    # generation DAG executes exactly once regardless of fan-out
    edges = sym.distinct().localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # Self-loop edges fold the "own label" term into the neighbor
    # aggregation, so each round is ONE join + ONE min-groupBy (the r4
    # form re-joined the result back onto labels — a second join and
    # coalesce per round, pure overhead since min(self ∪ neighbors)
    # says the same thing).
    # eplus/labels/per-round checkpoints are LAZY (eager=False): the
    # round's convergence collect below is the materializing action, so
    # each round costs ONE job (compute + persist + sum in a single
    # pass) instead of two (eager checkpoint job + sum job), and the
    # two seed relations materialize inside round 1's job instead of
    # two more up-front jobs (r15 optimization: guide §1.2/§2.4 —
    # fewer sequential actions; lineage truncation is identical, the
    # LogicalRDD plan barrier exists as soon as localCheckpoint
    # returns, eager or not). Only ``edges`` stays eager: it fences the
    # potentially expensive upstream pair DAG exactly once.
    eplus = edges.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=False
    )

    # One hop per materialization round. (A two-hop-per-round variant
    # was measured at sf0.1 and is SLOWER here: near-dup clusters have
    # tiny diameter, so single-hop converges in ~2 rounds and the
    # batched second join is pure overhead. Batching would win only on
    # high-diameter graphs — not this workload.)
    prev_sum = None
    for _ in range(max_iterations):
        labels = (
            eplus.join(labels, eplus.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component_id"))


# Exact near-dup keeper oracle: 3-gram Jaccard >= 0.6 pairs, transitive
# closure via recursive CTE, keeper = min doc_id per component. Shared by
# dedup_neardup_clusters (ngram-prefix-filter path) and dedup_lsh_keepers
# (MinHash-LSH path): two independent algorithms pinned to one relation.
# The near-dup connected-components CTE block (shingles → exact
# Jaccard pairs → transitive closure), shared by the keeper oracles
# here and by pipeline_prep's leakage-safe split oracle. Ends in
# ``reach(node, lbl)``; compose with WITH RECURSIVE and a final select.
_CC_CTE_BODY = """
    sh AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 0) + 1),
               i -> STRING_SPLIT(text,' ')[i] || ' ' || STRING_SPLIT(text,' ')[i+1] || ' ' || STRING_SPLIT(text,' ')[i+2]
             ))) AS sh
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT a, a FROM edges
      UNION
        SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
    )
"""

_KEEPER_CC_ORACLE = (
    "WITH RECURSIVE "
    + _CC_CTE_BODY
    + """
    SELECT node AS doc_id, MIN(lbl) AS component_id,
           CAST(node = MIN(lbl) AS BOOLEAN) AS is_keeper
    FROM reach GROUP BY node
"""
)


@query("dedup_neardup_clusters", oracle=_KEEPER_CC_ORACLE)
def dedup_neardup_clusters(spark, sf_dir):
    """Near-dup clustering (SURVEY §2.11): ngram-Jaccard pairs →
    connected components → deterministic keeper (min doc_id per
    cluster). The oracle computes the same components via a recursive
    transitive-closure CTE — exact agreement pins both the pair
    relation and the clustering."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("is_keeper"),
    )


def verify_jaccard(cand: DataFrame, sh: DataFrame, t_thresh: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the shingle
    relation ``sh`` (doc_id, sh): count co-occurring shingles per pair
    (O(1) aggregation state — never a per-document array), join sizes,
    keep pairs with true Jaccard >= t. The standard verify stage every
    LSH candidate generator feeds into; shuffle volume is bounded by
    |candidates| x shingles-per-doc."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= t_thresh)
        .select("doc_a", "doc_b")
    )


@query("dedup_lsh_keepers", oracle=_KEEPER_CC_ORACLE)
def dedup_lsh_keepers(spark, sf_dir):
    """The 100 TB dedup pipeline end-to-end, hash-verified: MinHash-LSH
    candidate pairs (banded buckets — never all-pairs) → exact-Jaccard
    verify over candidates only → connected components → deterministic
    keeper (min doc_id per cluster).

    Exactness argument: the verify stage recomputes TRUE Jaccard, so
    precision is exact by construction; the banding (8 bands x 4 rows)
    has measured recall 1.0 vs the exact >= 0.6 pair relation on every
    fixture SF (pinned by tests/test_dedup.py::
    test_lsh_candidates_cover_all_true_pairs — the precondition for
    this oracle), so the output equals the exact keeper set computed by
    the recursive-CTE oracle. Same relation as dedup_neardup_clusters
    via a completely independent candidate path."""
    t_thresh = 0.6
    cand = dedup_minhash_lsh(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    # same persisted shingle relation shape as dedup_ngram_jaccard; the
    # CacheManager dedupes by analyzed-plan equality across invocations
    sh = tracked_persist(d.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh")))
    verified = verify_jaccard(cand, sh, t_thresh)
    comp = connected_components(verified)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("is_keeper"),
    )


@query("dedup_minhash_clusters")
def dedup_minhash_clusters(spark, sf_dir):
    """The full 100 TB dedup path end-to-end: MinHash-LSH candidate
    pairs → connected components → deterministic keeper per cluster.
    Rows-only driver check (LSH candidates are engine-internal);
    tests/test_dedup.py asserts exact duplicates always land in one
    cluster and keepers are cluster minima."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("is_keeper"),
    )


# -- adaptive tier selection (round 7) ---------------------------------
# SCALING.md's sf1 rung measured the crossover this dispatcher encodes:
# exact AllPairs/PPJoin candidates grow ~df² once the shingle space
# saturates (22.5× wall at 10× data on the fixed-vocabulary corpus),
# while banded MinHash-LSH stays sub-linear (3.2×). Both tiers feed the
# SAME exact-Jaccard verify + connected components, and LSH banding
# recall is 1.0 vs the exact pair relation on every fixture SF (pinned
# by tests/test_dedup.py::test_lsh_candidates_cover_all_true_pairs), so
# the keeper relation is identical either way — only the candidate-
# generation cost differs. That makes strategy selection a pure
# physical-plan decision, which is exactly how Spark treats it
# elsewhere (AQE join selection): measure a bounded statistic, pick the
# plan.

# Crossover: fixture-profile corpora measure avg shingle df ≈ 9.6 at
# sf0.1 (Heaps-law-like regime, exact tier near-linear); the saturated
# sf1 rung measures ≈ 87 (exact tier quadratic). The S-curve between
# them is steep — anywhere in the 20-40 band separates the regimes.
_SATURATION_AVG_DF = 24.0


def shingle_saturation(sh) -> float:
    """Average shingle document frequency (rows / distinct shingles) of
    the corpus — ONE aggregation over the shared persisted shingle
    relation yielding a single driver scalar (the bounded-statistics
    pattern of AQE; cost is one pass over 8-byte keys)."""
    row = sh.agg(
        F.count("*").alias("rows"),
        F.approx_count_distinct("sh").alias("distinct_sh"),
    ).collect()[0]
    return float(row["rows"]) / max(float(row["distinct_sh"]), 1.0)


def shingle_saturation_from_df(df_rel) -> float:
    """The same statistic computed from the index's maintained
    (sh, df) relation: sum(df) = total shingle rows, count(*) =
    distinct shingles EXACTLY (the relation is already deduplicated —
    no sketch needed). One aggregate over the index's SMALLEST big
    relation instead of a scan of the exploded shingles, which is
    what lets the streaming admit loop refresh the tier-dispatch
    statistic per micro-batch against a growing index
    (stream_ingest_admit injects it into saturation-accepting
    classifiers such as ingest_batch_adaptive)."""
    row = df_rel.agg(
        F.sum("df").alias("rows"), F.count("*").alias("distinct_sh")
    ).collect()[0]
    return float(row["rows"] or 0) / max(float(row["distinct_sh"]), 1.0)


# -- recall-bounded LSH dial (round 13) ---------------------------------
# The adaptive tier's LSH branch previously shipped ONE fixed (8, 4)
# dial, so its recall at the Jaccard threshold was an emergent
# measurement (98.8% of exact keepers at the saturated sf1 rung), not
# a chosen bound (VERDICT r12 #1). These functions derive the dial
# from the banding S-curve P(candidate | jaccard=s) = 1 - (1 - s^r)^b:
# callers state a target recall at the threshold J and get the
# cheapest (bands, rows) meeting it. Cost model: below the threshold
# the false-candidate probability is ~ b*s^r, so at a fixed recall
# target LARGER r (steeper curve) always yields fewer false
# candidates — the verify stage's shuffle volume, which dominates at
# scale — at the price of a wider signature; the dial therefore picks
# the largest r whose minimal band count fits the ``max_hashes``
# signature budget, then the minimal b for that r.

_LSH_TARGET_RECALL = 0.98  # default per-pair candidate recall at J
_LSH_MAX_HASHES = 128  # signature-width budget for the dial search


def lsh_candidate_prob(s: float, n_bands: int, rows_per_band: int) -> float:
    """P(a pair with true Jaccard ``s`` becomes an LSH candidate)
    under ``n_bands`` independent bands of ``rows_per_band`` minhash
    rows: each band matches iff all r lanes agree (prob s^r per lane
    under the uniform-permutation model), and the pair is a candidate
    iff ANY band matches — 1 - (1 - s^r)^b. Pinned against a
    brute-force Monte-Carlo minhash simulation and an exhaustive
    band-outcome enumeration in tests/test_lsh_dial.py."""
    return 1.0 - (1.0 - s**rows_per_band) ** n_bands


def lsh_min_bands(j: float, rows_per_band: int, target_recall: float) -> int:
    """Smallest band count b with lsh_candidate_prob(j, b, r) >=
    target_recall — closed form b = ceil(log(1-target)/log(1-j^r)),
    verified minimal (b meets, b-1 misses) by property test."""
    import math

    if not 0.0 < j <= 1.0:
        raise ValueError(f"lsh_min_bands: threshold j={j} not in (0, 1]")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"lsh_min_bands: target_recall={target_recall} not in (0, 1)"
        )
    p = j**rows_per_band
    if p >= 1.0:
        return 1
    if p <= 0.0:  # j^r underflowed: no band count can reach the target
        raise ValueError(
            f"lsh_min_bands: j^r underflows to 0 at j={j}, r={rows_per_band}"
            f" — no finite band count reaches the target"
        )
    return max(1, math.ceil(math.log1p(-target_recall) / math.log1p(-p)))


def lsh_dial(
    j: float = 0.6,
    target_recall: float = _LSH_TARGET_RECALL,
    max_hashes: int = _LSH_MAX_HASHES,
) -> tuple[int, int]:
    """Cheapest (n_bands, rows_per_band) meeting ``target_recall`` at
    Jaccard threshold ``j`` within a ``max_hashes``-lane signature
    budget: the largest feasible r (fewest false candidates — the
    S-curve's sub-threshold tail is ~ b*s^r), with the minimal b for
    that r. At the defaults (j=0.6, recall 0.98, 128 lanes) this is
    (29, 4) — 116 lanes, recall 0.9821 at J.

    The SAVED-index bands relation stays on the frozen 8x4 layout
    (a persisted compatibility contract — lsh_bands/ingest_batch_lsh);
    this dial governs the batch adaptive tier's candidate generation
    (dedup_neardup_adaptive and its consumers)."""
    best: tuple[int, int] | None = None
    for r in range(1, max_hashes + 1):
        b = lsh_min_bands(j, r, target_recall)
        if b * r <= max_hashes:
            best = (b, r)  # larger feasible r always wins
    if best is None:
        raise ValueError(
            f"lsh_dial: no (bands, rows) within {max_hashes} hashes "
            f"reaches recall {target_recall} at j={j} — raise max_hashes "
            f"or lower the target"
        )
    return best


def _lsh_keepers_dialed(spark, sf_dir, j: float, target_recall: float):
    """dedup_lsh_keepers with the recall-bounded dial: lsh_dial-chosen
    banded candidates → exact-Jaccard verify (precision exact by
    construction) → connected components → min-id keeper. Per-pair
    candidate recall at the threshold is >= target_recall by the
    S-curve bound; keeper recall through connected components is
    higher still (a cluster is lost only if EVERY pair linking it is
    missed)."""
    n_bands, rows = lsh_dial(j, target_recall)
    d = t(spark, sf_dir, "documents")
    cand = lsh_candidates(d, n_bands, rows)
    sh = tracked_persist(
        d.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    )
    verified = verify_jaccard(cand, sh, j)
    comp = connected_components(verified)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("is_keeper"),
    )


@query("dedup_lsh_keepers_bounded", oracle=_KEEPER_CC_ORACLE)
def dedup_lsh_keepers_bounded(spark, sf_dir):
    """The recall-bounded LSH dedup pipeline end-to-end, hash-verified:
    lsh_dial(j=0.6, recall=0.98)-chosen banded candidates (29 bands x
    4 rows at the defaults) → exact-Jaccard verify → connected
    components → min-id keepers.

    Exactness argument for the oracle: at rows_per_band=4 the dialed
    signature's first 32 lanes equal the frozen construction's (same
    permutation stream — pinned by tests/test_lsh_dial.py), so bands
    0-7 are byte-identical to dedup_minhash_lsh's and the dialed
    candidate set is a SUPERSET of the frozen one, whose recall vs the
    exact >= 0.6 pair relation is measured 1.0 on every fixture SF
    (test_lsh_candidates_cover_all_true_pairs, re-pinned for the dial
    in test_lsh_dial.py). Precision is exact via the verify stage, so
    the output equals the recursive-CTE oracle's keeper relation."""
    return _lsh_keepers_dialed(spark, sf_dir, j=0.6,
                               target_recall=_LSH_TARGET_RECALL)


@query("dedup_neardup_adaptive", oracle=_KEEPER_CC_ORACLE)
def dedup_neardup_adaptive(spark, sf_dir, target_recall: float = _LSH_TARGET_RECALL):
    """Near-dup keepers with ADAPTIVE candidate-tier selection — the
    executable form of SCALING.md's round-7 tiering rule:

    - avg shingle df below the saturation threshold (Heaps-law corpora,
      growing vocabulary): exact AllPairs/PPJoin prefix join — no
      recall precondition at all;
    - at/above it (templated/boilerplate corpora, fixed vocabulary):
      banded MinHash-LSH candidates, whose cost is bounded by band-
      bucket sizes rather than df².

    The decision statistic is one aggregate over the shared persisted
    shingle relation (approx_count_distinct — a sketch, so the stat
    pass is itself scale-safe); both branches verify candidates by
    exact Jaccard and cluster with the same connected components.
    Precision is exact in BOTH tiers (the verify stage recomputes true
    Jaccard); recall is exact in the exact tier and RECALL-BOUNDED in
    the LSH tier: the (bands, rows) dial is derived from the banding
    S-curve by lsh_dial() so per-pair candidate recall at the J
    threshold is >= ``target_recall`` (default 0.98 — dial (29, 4) at
    J=0.6), a CHOSEN bound rather than the old fixed 8x4 dial's
    emergent one (VERDICT r12 #1: the fixed dial measured 98.8% keeper
    recall at the saturated sf1 rung with only ~67% per-pair at
    exactly J). On every fixture SF dialed banding recall is measured
    1.0 (pinned precondition — the dialed candidates are a SUPERSET of
    the frozen 8x4 set, see dedup_lsh_keepers_bounded), so the
    recursive-CTE oracle holds. Consumers (dedup_keep_best,
    split_leakage_safe) thread ``target_recall`` through."""
    d = t(spark, sf_dir, "documents")
    # the same persisted shingle relation both tiers build (the
    # CacheManager dedupes by analyzed-plan equality, so the stat pass
    # and the chosen tier share one cache entry)
    sh = tracked_persist(
        d.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    )
    if shingle_saturation(sh) < _SATURATION_AVG_DF:
        return dedup_neardup_clusters(spark, sf_dir)
    return _lsh_keepers_dialed(spark, sf_dir, j=0.6,
                               target_recall=target_recall)


@query(
    "dedup_keep_best",
    oracle=(
        "WITH RECURSIVE "
        + _CC_CTE_BODY
        + """,
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node),
    q AS (
      SELECT doc_id,
             CASE WHEN n_trigrams > 0
                  THEN ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams, 6)
                  ELSE 0.0 END AS rep_ratio
      FROM (
        SELECT doc_id,
               GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 0) AS n_trigrams,
               LEN(LIST_DISTINCT(LIST_TRANSFORM(
                 RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 0) + 1),
                 __g -> STRING_SPLIT(text,' ')[__g] || ' '
                        || STRING_SPLIT(text,' ')[__g+1] || ' '
                        || STRING_SPLIT(text,' ')[__g+2]))) AS n_distinct
        FROM documents
      )
    )
    SELECT c.doc_id, c.component_id, q.rep_ratio,
           ROW_NUMBER() OVER (PARTITION BY c.component_id
                              ORDER BY q.rep_ratio, c.doc_id) = 1 AS is_keeper
    FROM comp c JOIN q USING (doc_id)
    """
    ),
)
def dedup_keep_best(spark, sf_dir, target_recall: float = _LSH_TARGET_RECALL):
    """Quality-aware keeper policy: within each near-dup cluster keep
    the member with the LOWEST intra-document repetition score
    (text_repetition's Gopher-style rep_ratio; doc_id ties) — the
    production alternative to min-id keepers: when near-duplicates
    differ, a pipeline wants the least-templated copy, not the one
    with the accidentally-smallest id. Components come from the
    adaptive tier dispatch (the split_leakage_safe lesson: every
    consumer of the pair relation inherits its df² cliff unless it
    routes through the dispatcher), with ``target_recall`` threaded to
    the dispatcher's recall-bounded LSH dial; the quality score is one
    shuffle-free projection, the keeper pick one bounded window per
    tiny cluster. Fixture SFs dispatch to the exact tier, so the
    recursive-CTE oracle holds verbatim."""
    from pyspark.sql import Window

    from presto_on_ray_spark.operators.pipeline_prep import text_repetition

    comp = dedup_neardup_adaptive(
        spark, sf_dir, target_recall=target_recall
    ).select("doc_id", "component_id")
    # the quality statistic IS text_repetition's — reuse its pipeline
    # rather than restating the expression (a rounding-mode fix there
    # must move this keeper policy with it)
    q = text_repetition(spark, sf_dir).select("doc_id", "rep_ratio")
    w = Window.partitionBy("component_id").orderBy("rep_ratio", "doc_id")
    return (
        comp.join(q, "doc_id")
        .withColumn("is_keeper", F.row_number().over(w) == 1)
        .select("doc_id", "component_id", "rep_ratio", "is_keeper")
    )


# -- SimHash portable-exact twin (round 8) ------------------------------
# Completes the sketch-family pattern (hll_portable_distinct,
# checksum_portable, dedup_lsh_keepers, similarity_ivf_exact): the
# engine-internal xxhash64 SimHash above keeps its speed, and this twin
# computes the SAME majority-vote fingerprint over the portable 60-bit
# md5 word hash so a DuckDB oracle reproduces every fingerprint
# bit-exactly — the last dedup tier without an oracle-bearing member.

_SIMHASH_SEED = "sh8"


def _simhash_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    h = _h60_sql(f"concat_ws('|', '{_SIMHASH_SEED}', word)")
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    # text IS NOT NULL mirrors the Spark side's filter: without it the
    # two engines diverge on NULL text (Spark's fold yields simhash 0,
    # DuckDB's UNNEST(NULL) drops the row)
    return f"""
    WITH w AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL)
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash
    FROM votes
    """


@query("dedup_simhash_portable", oracle=_simhash_oracle())
def dedup_simhash_portable(spark, sf_dir):
    """SimHash fingerprints with a cross-engine-reproducible word hash:
    the SAME majority-vote fold as dedup_simhash (shared
    _simhash_fingerprints helper) over the portable 60-bit md5 word
    digest instead of xxhash64. The DuckDB oracle recomputes every
    48-bit fingerprint bit-exactly — the exactness witness for the
    SimHash tier; the xxhash64 member above remains the production
    fast path. Plan shape identical: one HOF fold per document, no
    shuffle before the final projection."""
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return _simhash_fingerprints(
        d, lambda w: _portable_h60(F.lit(_SIMHASH_SEED), w)
    )


# ---------------------------------------------------------------------------
# Exact substring-window duplication (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — ExactSubstr). The real
# system builds a corpus-wide suffix array; the Spark-native equivalent
# that preserves its DECISIONS is fixed-length rolling windows: a
# duplicated substring of >= W words is exactly a run of duplicated
# W-word windows, so per-position window-duplication flags recover the
# duplicated-span structure without any global suffix sort (which does
# not distribute).
_SUBSTR_W = 8


def _substring_windows_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    w = _SUBSTR_W
    # The window text is materialized as a NAMED column in an inner
    # subquery before hashing: _h60_sql expands to a LIST_TRANSFORM
    # lambda, and DuckDB lambda variables shadow outer columns, so an
    # inlined expression referencing the position column would bind to
    # the lambda index instead (round-8 bug: position-independent hash
    # flagged every window duplicated).
    return f"""
    WITH pos AS (
      SELECT doc_id, {_h60_sql("win")} AS h
      FROM (SELECT doc_id,
                   ARRAY_TO_STRING((STRING_SPLIT(text, ' '))[i:i+{w - 1}], ' ') AS win
            FROM (SELECT doc_id, text,
                         UNNEST(RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - {w - 1}, 0) + 1)) AS i
                  FROM documents WHERE text IS NOT NULL))
    ),
    flagged AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS total FROM pos
    )
    SELECT doc_id,
           COUNT(*) AS n_windows,
           CAST(COALESCE(SUM(CASE WHEN total >= 2 THEN 1 END), 0) AS BIGINT)
             AS dup_windows
    FROM flagged GROUP BY doc_id
    """


def substring_window_stats(docs, w: int = _SUBSTR_W):
    """Core of dedup_substring_windows over an arbitrary documents
    DataFrame (doc_id, text) — factored out so unit tests can pin the
    dup-span semantics on synthetic corpora (incl. docs shorter than
    w words, which must yield n_windows = 0, not crash)."""
    from pyspark.sql import Window

    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    d = docs.filter(F.col("text").isNotNull())
    wins = _rolling_windows(F.col("text"), w)
    pos = d.select("doc_id", F.explode(wins).alias("win")).select(
        "doc_id", _portable_h60(F.col("win")).alias("h")
    )
    total = F.count("*").over(Window.partitionBy("h"))
    return (
        pos.withColumn("total", total)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.coalesce(
                F.sum(F.when(F.col("total") >= 2, 1)), F.lit(0)
            ).cast("long").alias("dup_windows"),
        )
    )


@query("dedup_substring_windows", oracle=_substring_windows_oracle())
def dedup_substring_windows(spark, sf_dir):
    """Exact substring-duplication accounting: for every document, how
    many of its W-word rolling windows (ALL positions, not distinct —
    within-document repetition counts, exactly as a suffix array would
    see it) occur >= 2 times anywhere in the corpus.

    Windows are carried as the portable 60-bit md5 digest (8-byte
    shuffle keys, bit-exact in DuckDB). Two shuffles total: one
    count-over-window partitioned by digest, one per-doc re-aggregation
    — no self-join and no document bodies move. At 100 TB the digest
    space is uniform, so the only skewed keys are genuinely duplicated
    content — the rows this operator exists to find; AQE's skew
    handling splits those partitions.
    """
    return substring_window_stats(
        t(spark, sf_dir, "documents"), _SUBSTR_W
    )


# -- duplicated-SPAN extraction (the ExactSubstr removal decision) ------
# dedup_substring_windows counts duplicated windows; the removal step
# of Lee et al. 2022 needs the SPANS: a duplicated substring of
# L >= W words is exactly a maximal run of L - W + 1 consecutive
# duplicated windows, so per-doc run-length analysis of the duplicated
# positions recovers every maximal duplicated span and its word length
# (run_len + W - 1) without a suffix array.


def _substring_spans_ctes() -> str:
    """Shared pos/dup/runs/cov CTE chain for the spans and keep
    oracles (cov.covered is the interval-union clipped per-run word
    coverage)."""
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    w = _SUBSTR_W
    return f"""
    WITH pos AS (
      SELECT doc_id, i, {_h60_sql("win")} AS h
      FROM (SELECT doc_id, i,
                   ARRAY_TO_STRING((STRING_SPLIT(text, ' '))[i:i+{w - 1}], ' ') AS win
            FROM (SELECT doc_id, text,
                         UNNEST(RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - {w - 1}, 0) + 1)) AS i
                  FROM documents WHERE text IS NOT NULL))
    ),
    dup AS (
      SELECT doc_id, i FROM (
        SELECT doc_id, i, COUNT(*) OVER (PARTITION BY h) AS total FROM pos
      ) WHERE total >= 2
    ),
    runs AS (
      SELECT doc_id, grp, MIN(i) AS a, MAX(i) AS b, COUNT(*) AS len FROM (
        SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM dup
      ) GROUP BY doc_id, grp
    ),
    cov AS (
      SELECT doc_id, len,
             (b + {w - 1}) - GREATEST(
               a - 1,
               COALESCE(LAG(b + {w - 1})
                        OVER (PARTITION BY doc_id ORDER BY a), 0)
             ) AS covered
      FROM runs
    )
    """


def _substring_spans_oracle() -> str:
    w = _SUBSTR_W
    return (
        _substring_spans_ctes()
        + f"""
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(len) + {w - 1} AS BIGINT) AS max_span_words,
           CAST(SUM(covered) AS BIGINT) AS dup_span_words
    FROM cov GROUP BY doc_id
    """
    )


def _dup_runs(dup):
    """Gaps-and-islands over a thin (doc_id, i) duplicated-position
    relation: maximal runs of consecutive positions as (doc_id, a, b,
    len). After the row_number window's exchange on doc_id, the
    groupBy(doc_id, grp) reuses the doc_id hash partitioning — one
    shuffle, no whole-group buffer."""
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy("i")
    return (
        dup.withColumn("grp", F.col("i") - F.row_number().over(wdoc))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("a"),
            F.max("i").alias("b"),
            F.count("*").alias("len"),
        )
    )


def _dup_positions(docs, w: int):
    """The thin (doc_id, i) relation of positions whose w-word window
    occurs >= 2 times anywhere in the corpus (the shared head of the
    spans/span-list pipelines)."""
    from pyspark.sql import Window

    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    d = docs.filter(F.col("text").isNotNull())
    pos = d.select(
        "doc_id", F.posexplode(_rolling_windows(F.col("text"), w)).alias("p", "win")
    ).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("i"),
        _portable_h60(F.col("win")).alias("h"),
    )
    total = F.count("*").over(Window.partitionBy("h"))
    return (
        pos.withColumn("total", total)
        .filter(F.col("total") >= 2)
        .select("doc_id", "i")
    )


def substring_dup_spans(docs, w: int = _SUBSTR_W):
    """Core of dedup_substring_spans over an arbitrary (doc_id, text)
    DataFrame: maximal runs of corpus-duplicated W-word windows per
    document, as the gaps-and-islands form — span count, longest span
    in words, and dup_span_words = the TRUE interval-union word
    coverage of the duplicated spans (run [a, b] covers words
    [a, b + w - 1]; runs closer than w - 1 positions apart overlap in
    words, so each run's contribution is clipped at the previous
    run's word end — b is monotone across a doc's runs, so one lag is
    the running max). dup_span_words / doc word count is therefore a
    proper fraction in [0, 1], usable directly as a removal policy."""
    from pyspark.sql import Window

    runs = _dup_runs(_dup_positions(docs, w))
    wrun = Window.partitionBy("doc_id").orderBy("a")
    prev_end = F.lag(F.col("b") + F.lit(w - 1)).over(wrun)
    covered = (F.col("b") + F.lit(w - 1)) - F.greatest(
        F.col("a") - F.lit(1), F.coalesce(prev_end, F.lit(0).cast("long"))
    )
    return (
        runs.withColumn("covered", covered)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            (F.max("len") + F.lit(w - 1)).cast("long").alias("max_span_words"),
            F.sum("covered").cast("long").alias("dup_span_words"),
        )
    )


@query("dedup_substring_spans", oracle=_substring_spans_oracle())
def dedup_substring_spans(spark, sf_dir):
    """Maximal duplicated-span extraction per document (ExactSubstr's
    removal decision): for each document, the number of maximal runs
    of corpus-duplicated W-word windows, the longest such span in
    words, and dup_span_words = the interval-union word coverage of
    those spans (overlapping word ranges of nearby runs are counted
    once, so coverage never exceeds the document's word count).

    Same two-shuffle scale shape as dedup_substring_windows (digest-
    count window + doc_id exchange) — positions ride along as one
    extra long; the run-length step is gaps-and-islands over the thin
    dup relation (row_number per doc, groupBy(doc_id, i - rn)), and
    the islands groupBy, the run-order lag, and the final per-doc
    aggregation all reuse the doc_id partitioning. No per-group array
    buffer anywhere. Docs with zero duplicated windows produce no row
    in both engines."""
    return substring_dup_spans(t(spark, sf_dir, "documents"), _SUBSTR_W)


# -- the removal decision itself (windows -> spans -> ACTION) -----------

_KEEP_NUM, _KEEP_DEN = 1, 2  # drop when coverage > 1/2 of the doc's words


def _substring_keep_oracle() -> str:
    return (
        _substring_spans_ctes()
        + f""",
    spans AS (
      SELECT doc_id, SUM(covered) AS dup_span_words
      FROM cov GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS doc_words,
           CAST(COALESCE(s.dup_span_words, 0) AS BIGINT) AS dup_span_words,
           COALESCE(s.dup_span_words, 0) * {_KEEP_DEN}
             <= LEN(STRING_SPLIT(d.text, ' ')) * {_KEEP_NUM} AS keep
    FROM documents d LEFT JOIN spans s ON s.doc_id = d.doc_id
    WHERE d.text IS NOT NULL
    """
    )


def substring_keep_verdicts(docs, w: int = _SUBSTR_W,
                            num: int = _KEEP_NUM, den: int = _KEEP_DEN):
    """Core of dedup_substring_keep: every non-null document with its
    word count, interval-union duplicated-span coverage, and the keep
    verdict coverage/doc_words <= num/den, compared in integer form
    (coverage * den <= doc_words * num) — no float boundary. Docs with
    no duplicated spans (including docs shorter than w words) are
    kept with coverage 0."""
    # both branches of the join (word counts + span pipeline) consume
    # the filtered documents — persist so the source is scanned once,
    # not once per branch (review r10).
    d = tracked_persist(docs.filter(F.col("text").isNotNull()))
    words = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("doc_words")
    )
    spans = substring_dup_spans(d, w).select("doc_id", "dup_span_words")
    cov = F.coalesce("dup_span_words", F.lit(0).cast("long"))
    return words.join(spans, "doc_id", "left").select(
        "doc_id",
        "doc_words",
        cov.alias("dup_span_words"),
        (cov * den <= F.col("doc_words") * num).alias("keep"),
    )


@query("dedup_substring_keep", oracle=_substring_keep_oracle())
def dedup_substring_keep(spark, sf_dir):
    """ExactSubstr's end decision (Lee et al. 2022 removal policy,
    doc-level form): keep a document iff its duplicated-span word
    coverage is at most 1/2 of its words. Because dup_span_words is
    true interval-union coverage, the ratio is a proper fraction and
    the verdict is meaningful; the comparison is integer-form
    (coverage * 2 <= doc_words), so both engines decide boundary docs
    identically.

    Scale shape: substring_dup_spans' two shuffles plus one doc_id
    equi-join of two per-doc relations — the spans side is only docs
    that HAVE duplicated windows, typically a small fraction of the
    corpus, and the join key is the id, never text."""
    return substring_keep_verdicts(t(spark, sf_dir, "documents"))


def _substring_span_list_oracle() -> str:
    w = _SUBSTR_W
    return (
        _substring_spans_ctes()
        + f"""
    SELECT doc_id,
           CAST(a AS BIGINT) AS span_start,
           CAST(b + {w - 1} AS BIGINT) AS span_end
    FROM runs
    """
    )


@query("dedup_substring_span_list", oracle=_substring_span_list_oracle())
def dedup_substring_span_list(spark, sf_dir):
    """The duplicated spans THEMSELVES, one row per maximal span, in
    1-based word coordinates [span_start, span_end] — the relation a
    span-CUTTING policy (remove the duplicated text, keep the rest —
    Lee et al.'s actual ExactSubstr action) consumes, where the
    doc-level dedup_substring_keep only needs the per-doc rollup.

    Scale shape: the shared _dup_positions head (digest-count window)
    plus the islands groupBy — the same two shuffles as the spans
    rollup, stopping one aggregation earlier. Output is one row per
    span, bounded by the dup-position count, never per word."""
    w = _SUBSTR_W
    runs = _dup_runs(_dup_positions(t(spark, sf_dir, "documents"), w))
    return runs.select(
        "doc_id",
        F.col("a").cast("long").alias("span_start"),
        (F.col("b") + F.lit(w - 1)).cast("long").alias("span_end"),
    )


def _substring_cut_oracle() -> str:
    w = _SUBSTR_W
    return (
        _substring_spans_ctes()
        + f""",
    words AS (
      SELECT doc_id, i, (STRING_SPLIT(text, ' '))[i] AS wd
      FROM (SELECT doc_id, text,
                   UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS i
            FROM documents WHERE text IS NOT NULL)
    ),
    covered AS (
      SELECT DISTINCT doc_id, UNNEST(RANGE(a, b + {w})) AS i FROM runs
    ),
    keptagg AS (
      SELECT wo.doc_id, STRING_AGG(wo.wd, ' ' ORDER BY wo.i) AS clean_text
      FROM words wo LEFT JOIN covered c
        ON c.doc_id = wo.doc_id AND c.i = wo.i
      WHERE c.i IS NULL
      GROUP BY wo.doc_id
    )
    SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN keptagg k ON k.doc_id = d.doc_id
    WHERE d.text IS NOT NULL
    """
    )


def substring_cut(docs, w: int = _SUBSTR_W):
    """Core of dedup_substring_cut: every non-null document with its
    duplicated spans removed — word positions covered by ANY maximal
    duplicated span are dropped, the remainder re-joined in order
    (fully covered docs yield '', never a missing row).

    The per-doc span list is the ONLY grouped buffer: two longs per
    maximal span, at most one span per two window positions — a
    strictly smaller per-row bound than the document's own word array
    that split() already materializes per row. The cut itself is
    per-row JVM expression work (transform/filter/exists over the
    word array against the bounded span array); words are never
    exploded into rows."""
    d = tracked_persist(docs.filter(F.col("text").isNotNull()))
    return _cut_spans(d, _dup_runs(_dup_positions(d, w)), w)


def _cut_spans(d, runs, w: int):
    """The span-cut tail shared by substring_cut and the
    decontamination cut: given non-null (doc_id, text) docs and a
    maximal-run relation (doc_id, a, b) in window coordinates, emit
    every doc with words covered by any run [a, b + w - 1] removed.
    The per-doc span list is the only grouped buffer (two longs per
    maximal span, ≤ one span per two window positions — strictly
    smaller than the word array split() materializes per row); the
    cut is per-row exists() in codegen, never an explode per word."""
    spans_per_doc = runs.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("a"), F.col("b"))).alias("sps")
    )
    kept = F.filter(
        F.split("text", " "),
        lambda wd, i: ~F.exists(
            F.col("sps"),
            lambda sp: ((i + F.lit(1)) >= sp["a"])
            & ((i + F.lit(1)) <= sp["b"] + F.lit(w - 1)),
        ),
    )
    clean = F.array_join(kept, " ")
    return (
        d.join(spans_per_doc, "doc_id", "left")
        .withColumn(
            "sps",
            F.coalesce("sps", F.array().cast("array<struct<a:bigint,b:bigint>>")),
        )
        .select("doc_id", clean.alias("clean_text"))
    )


@query("dedup_substring_cut", oracle=_substring_cut_oracle())
def dedup_substring_cut(spark, sf_dir):
    """ExactSubstr's span-level action (Lee et al. 2022): emit every
    document with its corpus-duplicated spans CUT OUT — the
    alternative to dedup_substring_keep's whole-doc verdict when the
    policy is to salvage the non-duplicated remainder.

    Scale shape: the shared spans pipeline (two shuffles), one
    doc_id groupBy that reuses its partitioning, and one doc_id
    equi-join back to the documents — the spans side carries only
    docs that HAVE duplicated content. The word-level cut never
    leaves the row: an exists() probe of the bounded span array per
    word, inside whole-stage codegen, instead of exploding the corpus
    to one row per word and re-aggregating it."""
    return substring_cut(t(spark, sf_dir, "documents"), _SUBSTR_W)


# -- incremental cross-corpus dedup (ingest-time) -----------------------
# The production shape of dedup in a growing training corpus: a new
# batch is checked against the EXISTING corpus only — the base is
# never re-paired against itself. Tiers mirror the standing families:
# exact digest match first, then exact 3-gram Jaccard >= 0.6 against
# the base for the remainder (prefix-filtered cross join, the
# asymmetric AllPairs form), and everything else is new.

_INGEST_T_NUM, _INGEST_T_DEN = 3, 5  # Jaccard threshold 3/5


def _ingest_status_ctes(sfx: str, batch_src: str, base_src: str) -> str:
    """The DuckDB CTE block computing ingest classification of
    ``batch_src`` against ``base_src`` (both (doc_id, text) CTEs),
    ending in ``cls{sfx}`` with (doc_id, status, n_base_matches).
    Parameterized by a name suffix so the chained-admission oracle
    can instantiate it once per generation — one source of truth for
    the classification SQL across every ingest oracle."""
    tri = (
        "UNNEST(LIST_DISTINCT(LIST_TRANSFORM("
        "RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 0) + 1), "
        "g -> STRING_SPLIT(text,' ')[g] || ' ' || STRING_SPLIT(text,' ')[g+1]"
        " || ' ' || STRING_SPLIT(text,' ')[g+2]))) AS sh"
    )
    return f"""
    ex{sfx} AS (
      SELECT b.doc_id, COUNT(*) AS m
      FROM {batch_src} b JOIN {base_src} o ON md5(b.text) = md5(o.text)
      GROUP BY b.doc_id
    ),
    shb{sfx} AS (
      SELECT doc_id, {tri} FROM {batch_src}
      WHERE doc_id NOT IN (SELECT doc_id FROM ex{sfx})
    ),
    sho{sfx} AS (SELECT doc_id, {tri} FROM {base_src}),
    nb{sfx} AS (SELECT doc_id, COUNT(*) AS n FROM shb{sfx} GROUP BY doc_id),
    no{sfx} AS (SELECT doc_id, COUNT(*) AS n FROM sho{sfx} GROUP BY doc_id),
    common{sfx} AS (
      SELECT a.doc_id AS db, b.doc_id AS do_, COUNT(*) AS c
      FROM shb{sfx} a JOIN sho{sfx} b ON a.sh = b.sh
      GROUP BY a.doc_id, b.doc_id
    ),
    near{sfx} AS (
      SELECT db AS doc_id, COUNT(*) AS m
      FROM common{sfx}
      JOIN nb{sfx} ON nb{sfx}.doc_id = db
      JOIN no{sfx} ON no{sfx}.doc_id = do_
      WHERE ({_INGEST_T_DEN} + {_INGEST_T_NUM}) * c
            >= {_INGEST_T_NUM} * (nb{sfx}.n + no{sfx}.n)
      GROUP BY db
    ),
    cls{sfx} AS (
      SELECT b.doc_id,
             CASE WHEN ex{sfx}.m IS NOT NULL THEN 'exact'
                  WHEN near{sfx}.m IS NOT NULL THEN 'near'
                  ELSE 'new' END AS status,
             CAST(COALESCE(ex{sfx}.m, near{sfx}.m, 0) AS BIGINT)
               AS n_base_matches
      FROM {batch_src} b
      LEFT JOIN ex{sfx} ON ex{sfx}.doc_id = b.doc_id
      LEFT JOIN near{sfx} ON near{sfx}.doc_id = b.doc_id
    )"""


def _incremental_ingest_oracle() -> str:
    return f"""
    WITH batch AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 = 0 AND text IS NOT NULL
    ),
    base AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 != 0 AND text IS NOT NULL
    ),
    {_ingest_status_ctes("", "batch", "base")}
    SELECT doc_id, status, n_base_matches FROM cls
    ORDER BY doc_id
    """


def _ingest_chain_oracle() -> str:
    """Two chained admissions in plain SQL: classify b1 against base,
    admit b1's 'new' docs, classify b2 against the grown base."""
    return f"""
    WITH base1 AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 % 5 != 0 AND text IS NOT NULL
    ),
    b1 AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 = 5 AND text IS NOT NULL
    ),
    b2 AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 = 0 AND text IS NOT NULL
    ),
    {_ingest_status_ctes("1", "b1", "base1")},
    base2 AS (
      SELECT doc_id, text FROM base1
      UNION ALL
      SELECT b1.doc_id, b1.text FROM b1
      JOIN cls1 ON cls1.doc_id = b1.doc_id
      WHERE cls1.status = 'new'
    ),
    {_ingest_status_ctes("2", "b2", "base2")}
    SELECT 1 AS batch_no, doc_id, status, n_base_matches FROM cls1
    UNION ALL
    SELECT 2 AS batch_no, doc_id, status, n_base_matches FROM cls2
    ORDER BY batch_no, doc_id
    """


class BaseIndex(NamedTuple):
    """Persisted base-corpus relations that every ingest reuses
    (phase 1 of the two-phase ingest API): repeated batches pay only
    batch-sized work — the base is shingled, df-counted, and
    prefix-ranked ONCE (VERDICT r9 #4 / ADVICE r9). At 100 TB these
    are parquet-materialized tables maintained alongside the corpus;
    here they are persisted DataFrames.

    Ownership: built with tracked=True (the default) the index lives
    in the session cache registry and the NEXT release_cached() —
    which bench/tests call after every query — unpersists it; results
    stay correct but later ingests silently recompute the base-side
    pipeline. A caller holding an index across queries must build
    with tracked=False and call .release() when done."""

    digests: "object"   # (dig, me)  — exact-tier digest counts
    shingles: "object"  # (doc_id, sh) — exploded distinct 3-grams
    df: "object"        # (sh, df) — base document frequencies: the
    #                     shared prefix order (batch-only shingles
    #                     coalesce to df = 0, i.e. rarest — any fixed
    #                     total order keeps the prefix-filter theorem)
    counts: "object"    # (doc_id, n_o) — per-doc shingle counts
    prefix: "object"    # (doc_id, sh, n) — ranked prefix under (df, sh)

    def release(self) -> None:
        """Unpersist every index relation (owner-managed lifecycle
        for tracked=False indexes)."""
        for rel in (self.digests, self.shingles, self.df, self.counts,
                    self.prefix):
            rel.unpersist()


# Every relation a SAVED index directory may contain: the five
# BaseIndex fields plus the optional per-doc LSH ``bands`` relation
# (save_index_bands) — directory sweeps, leftover diagnosis, and
# generation swaps must cover all of them, or a crashed writer's
# bands__new litter (for one) would survive every recovery path.
_SAVED_RELATIONS = BaseIndex._fields + ("bands",)


def _saved_index_paths(path: str) -> tuple:
    """(spark_path, os_path) of a saved index the caller will MUTATE:
    the mutation protocol's swap is a filesystem rename, so the
    location must be local."""
    return store_proto.local_paths(
        path, "saved index",
        "saved-index mutation (merge_into_saved_index / "
        "compact_saved_index) uses local filesystem renames. On a shared "
        "store, write a new generation (build_base_index + "
        "save_base_index) or keep the index in a transactional table "
        "format.",
    )


def _ranked_prefix(sh_df, df_rel, tn: int, td: int):
    """Keep each doc's n - ceil(t*n) + 1 rarest shingles under the
    shared (df, sh) order (integer ceil: (tn*n + td - 1) div td).
    Shingles absent from df_rel rank rarest (df = 0)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        sh_df.join(df_rel, "sh", "left")
        .withColumn("df", F.coalesce("df", F.lit(0).cast("long")))
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    return ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(f"({tn} * n + {td - 1}) div {td}") + 1
    ).select("doc_id", "sh", "n")


def build_base_index(base, tracked: bool = True) -> BaseIndex:
    """Phase 1: build (and persist) the base-side index once. The
    prefix order is the BASE's df — consistent across ingests, so a
    batch ranked against the same df relation is ordered by the same
    total order, which is all the AllPairs prefix theorem needs.

    tracked=True registers the persists with the session cache
    registry (released by the next release_cached() — right for the
    one-shot query path); tracked=False hands ownership to the
    caller, who keeps the index across queries and must call
    index.release()."""
    tn, td = _INGEST_T_NUM, _INGEST_T_DEN
    keep = tracked_persist if tracked else (lambda df: df.persist())
    digests = keep(
        base.groupBy(F.md5("text").alias("dig")).agg(F.count("*").alias("me"))
    )
    sho = keep(
        base.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    )
    df_rel = keep(sho.groupBy("sh").agg(F.count("*").alias("df")))
    counts = keep(sho.groupBy("doc_id").agg(F.count("*").alias("n_o")))
    prefix = keep(_ranked_prefix(sho, df_rel, tn, td))
    return BaseIndex(digests, sho, df_rel, counts, prefix)


def _write_index_relations(
    index: BaseIndex, path: str, with_bands: bool
) -> None:
    """Write every index relation (and optionally bands) as parquet:
    shingles FIRST — every other relation (and bands) derives from the
    shared persisted shingle relation, so its write warms that cache
    exactly once — then the rest CONCURRENTLY from worker threads
    (independent Spark actions over the warm cache; measured 6.0 s →
    ~3 s for the sf0.1 save). Any failure propagates to the caller,
    which leaves the mutation markers stranded — relation write ORDER
    carries no crash-contract meaning during a rebuild because readers
    refuse on _MERGE_MUTATING for the whole write phase."""
    import concurrent.futures
    import os

    index.shingles.write.mode("overwrite").parquet(
        os.path.join(path, "shingles")
    )
    jobs = [
        (name, getattr(index, name))
        for name in BaseIndex._fields
        if name != "shingles"
    ]
    if with_bands:
        jobs.append(("bands", lsh_bands(index.shingles)))
    with concurrent.futures.ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [
            ex.submit(
                lambda df=df, name=name: df.write.mode("overwrite").parquet(
                    os.path.join(path, name)
                )
            )
            for name, df in jobs
        ]
        for f in futures:
            f.result()


def save_base_index(
    index: BaseIndex, path: str, force: bool = False, with_bands: bool = False
) -> None:
    """Materialize every index relation as parquet under ``path`` —
    the production form at 100 TB: the index is a set of tables
    maintained alongside the corpus, not a session cache. Layout is
    one subdirectory per BaseIndex field.

    ``with_bands=True`` additionally materializes the optional sixth
    relation, ``bands`` = lsh_bands(index.shingles) — the per-doc
    banded-MinHash rows the LSH ingest tier joins against. Saved
    bands are maintained by merge_into_saved_index (append inside the
    same mutation window, so the lockstep guard passes by
    construction) and rewritten by compact_saved_index; the streaming
    admit loop picks them up automatically, paying O(batch) band
    derivation per micro-batch instead of re-deriving the whole
    index's bands in-plan. A save WITHOUT with_bands onto a location
    that has a bands relation REMOVES it (local paths): a rebuild is
    a new doc-set generation, and bands not regenerated with it would
    silently drop recall for every doc the rebuild added. Attach
    bands to an existing saved index with save_index_bands.

    Concurrency + failure contract (local paths): the save holds the
    SAME _MERGE_INPROGRESS lock the mutation protocol uses, so a
    rebuild can never interleave its relation overwrites with a live
    merge's generation writes — and because the overwrites mutate the
    LIVE directories in place (not rename-aside generations), the
    save also raises _MERGE_MUTATING for the whole write phase:
    readers refuse while a rebuild is in flight (load_base_index's
    "lock alone does not block readers" contract stays true — the
    lock alone never accompanies in-place mutation), and a save that
    FAILS mid-write strands both markers, leaving the torn index loud
    instead of silently readable. The marker comes off only after
    every relation (and the crash-leftover sweep) has completed.

    If merge markers are already present the save REFUSES by default:
    a held lock may be a merge that is actively running. Pass
    ``force=True`` once certain no writer is live — the forced save
    is the prescribed rebuild recovery for a stranded marker: it
    keeps the location marked through its own writes and clears the
    markers and crash leftovers (*__new / *__old generation dirs)
    only on success. On a shared store (no os-level view of the
    location) save to a fresh generation directory instead."""
    import os
    import shutil

    path, os_path = store_proto.local_paths_or_none(path)
    if os_path is None:
        _write_index_relations(index, path, with_bands)
        return

    markers = [
        m
        for m in ("_MERGE_MUTATING", "_MERGE_INPROGRESS")
        if os.path.exists(os.path.join(os_path, m))
    ]
    if markers and not force:
        raise ValueError(
            f"saved index at {path!r} has merge markers "
            f"({', '.join(markers)}): a merge may be RUNNING there, and a "
            f"rebuild racing a live merge would silently interleave "
            f"writes. Once certain no writer is running, pass force=True "
            f"— the forced save is the prescribed rebuild recovery: it "
            f"keeps the location marked through its own writes and clears "
            f"the markers and crash leftovers on success"
        )
    if force and "_MERGE_INPROGRESS" in markers:
        # the caller certified no writer is live: the stale lock comes
        # off so we can acquire a fresh one. A stranded _MERGE_MUTATING
        # deliberately STAYS through the writes — the index is
        # inconsistent until this rebuild completes, and removing it
        # early would make a failed recovery silently readable.
        os.remove(os.path.join(os_path, "_MERGE_INPROGRESS"))
    os.makedirs(os_path, exist_ok=True)
    inprog = os.path.join(os_path, "_MERGE_INPROGRESS")
    try:
        store_proto.create_marker(
            inprog, "rebuild (save_base_index) in progress\n"
        )
    except FileExistsError:
        raise ValueError(
            f"saved index at {path!r}: _MERGE_INPROGRESS appeared while "
            f"acquiring the save lock — a concurrent writer is live; "
            f"retry once it finishes"
        ) from None
    # the write phase mutates the LIVE directories: mark the location
    # mutating so readers refuse mid-rebuild and a failure here leaves
    # the torn index LOUD (both markers stranded), never readable. A
    # failure CREATING the marker mutated nothing — release the lock
    # (like the merge protocol's pre-window abort) instead of forcing
    # a needless force=True recovery on an intact index.
    mutating = os.path.join(os_path, "_MERGE_MUTATING")
    if not os.path.exists(mutating):
        try:
            store_proto.create_marker(
                mutating, "rebuild in progress; if this file survives, "
                "re-run save_base_index(force=True)\n",
            )
        except BaseException:
            with contextlib.suppress(OSError):
                os.remove(inprog)
            raise
    _write_index_relations(index, path, with_bands)
    bands_dir = os.path.join(os_path, "bands")
    if os.path.exists(bands_dir) and not with_bands:
        # the rebuild changed the doc-set generation; bands not
        # regenerated with it would silently lose LSH recall for
        # every doc the rebuild added — remove, never keep stale
        shutil.rmtree(bands_dir)
    for name in _SAVED_RELATIONS:
        for suffix in ("__new", "__old"):
            leftover = os.path.join(os_path, name + suffix)
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
    # success: unmark, then release the lock (same order the mutation
    # protocol uses — a crash between the two leaves an intact index
    # with a stale lock, the already-diagnosed recoverable state)
    os.remove(mutating)
    os.remove(inprog)


def load_base_index(spark, path: str) -> BaseIndex:
    """Reload a saved index. The relations stay parquet-backed (no
    persist): repeated ingests re-read columnar files with pushdown
    instead of holding executor memory — the right trade once the
    base outgrows the cache. round-trip == in-session equality is
    pinned in tests/test_dedup.py.

    Refuses an index whose _MERGE_MUTATING marker is present — a
    merge is mid-mutation or crashed there, and reading would
    classify against partially admitted relations with no error
    anywhere. (The _MERGE_INPROGRESS lock alone is fine for readers:
    a lock-holding merge has not touched the index before it raises
    the mutating marker.) Best-effort for local paths; on a shared
    store the caller owns that invariant."""
    import os

    path, os_path = store_proto.local_paths_or_none(path)
    if os_path and os.path.exists(os.path.join(os_path, "_MERGE_MUTATING")):
        raise ValueError(
            f"saved index at {path!r} has a _MERGE_MUTATING marker: a "
            f"merge is mid-mutation or crashed there, and the relations "
            f"may be mutually inconsistent. If no merge is running, "
            f"rebuild the index (build_base_index + save_base_index over "
            f"the corpus)"
        )
    return BaseIndex(
        **{
            name: spark.read.parquet(os.path.join(path, name))
            for name in BaseIndex._fields
        }
    )


def save_index_bands(spark, path: str) -> None:
    """Attach (or regenerate) the optional ``bands`` relation of a
    saved index: lsh_bands over its stored shingles, written as a new
    generation under the same single-writer mutation protocol the
    merge and compaction use — so attaching bands to a live index
    location cannot interleave with an admission. One pass over the
    shingle relation, no document text read. After this, every
    merge_into_saved_index appends the admitted docs' band rows inside
    its mutation window and compact_saved_index rewrites them, so the
    bands stay in lockstep with the index by construction — the
    property ingest_batch_lsh's check= guard verifies per ingest."""
    with _saved_index_mutation(path) as mut:
        index = load_base_index(spark, mut.path)
        mut.write_new("bands", lsh_bands(index.shingles))
        mut.enter_mutation_window()
        mut.swap()


def load_saved_bands(spark, path: str):
    """The saved ``bands`` relation of a save_base_index layout, or
    None when the index was saved without one. Same _MERGE_MUTATING
    refusal as load_base_index — bands appended by a crashed merge are
    exactly as untrustworthy as its other appends."""
    import os

    spark_path, os_path = store_proto.local_paths_or_none(path)
    if os_path is not None:
        if os.path.exists(os.path.join(os_path, "_MERGE_MUTATING")):
            raise ValueError(
                f"saved index at {spark_path!r} has a _MERGE_MUTATING "
                f"marker: a merge is mid-mutation or crashed there. "
                f"Rebuild the index before reading its bands"
            )
        if not os.path.isdir(os.path.join(os_path, "bands")):
            return None
        return spark.read.parquet(os.path.join(spark_path, "bands"))
    # shared store: no os-level existence probe — try the read and map
    # only the path-missing failure to None
    try:
        return spark.read.parquet(os.path.join(spark_path, "bands"))
    except Exception as e:  # AnalysisException: PATH_NOT_FOUND
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def merge_into_base_index(
    index: BaseIndex,
    new_docs,
    tracked: bool = True,
    rerank: bool = True,
    eager: bool = False,
    check: bool = True,
) -> BaseIndex:
    """Incremental maintenance for the two-phase ingest index (VERDICT
    r10 #1): admit ``new_docs`` (doc_id, text; doc_ids must be new to
    the corpus) into an existing BaseIndex WITHOUT the O(corpus)
    rebuild, so the production loop — classify batch, admit its 'new'
    docs, they become base for the NEXT batch — pays incremental work
    per admission.

    What each relation costs:

    - ``digests`` / ``df``: union with the batch-side counts, then a
      re-aggregate. The shuffle carries the (digest, count) and
      (shingle, df) relations — tiny relative to the corpus text (at
      100 TB these are MERGE INTOs over maintained tables keyed by
      digest/shingle; here, one hash exchange each).
    - ``shingles`` / ``counts``: pure appends (union, no shuffle) —
      doc_ids are disjoint by contract, so no re-aggregation exists.
    - ``prefix``: the subtle one. Prefix rows are ranked under the
      total order (df, sh); admitting docs bumps df for every shingle
      they contain, which can reorder the shingles OF ANY BASE DOC
      SHARING one. Policy, made explicit per VERDICT r10 #1:

      * ``rerank=True`` (default, strict): re-rank exactly the
        affected docs — base docs sharing >= 1 shingle with the batch
        — under the merged df, keep everyone else's rows untouched
        (their shingles' dfs are unchanged, so their per-doc (df, sh)
        order is provably identical). Merged into a drift-free index
        (never stale-merged since its last build or compaction), the
        result is RELATION-FOR-RELATION equal to a from-scratch
        rebuild (pinned in tests/test_dedup.py), so the AllPairs
        prefix guarantee holds exactly. Work is bounded by the
        postings of the batch's shingles, not the corpus. (On adversarially
        saturated vocabularies — the fixture corpus' 31 words —
        "affected" approaches everyone and this degenerates toward a
        full re-rank; that is a property of the data, and the exact
        tier never depends on ranks.)

      * ``rerank=False`` (stale): append only the NEW docs' prefix
        rows (ranked under the merged df) and keep base prefixes as
        built. O(batch) maintenance, but sides ranked under different
        df snapshots break the single-total-order premise of the
        prefix-filter theorem: the near tier may MISS pairs involving
        stale-ranked docs (the exact tier is digest-joined and
        unaffected). A later strict merge does NOT repair this drift:
        it re-ranks only the docs sharing a shingle with ITS batch and
        copies every other doc's stale rows forward (pinned in
        tests/test_dedup.py). The contract is periodic compaction:
        staleness is bounded by sum(df drift) since the last build or
        compaction, and compact_saved_index (saved indexes) or
        build_base_index (in-session) are the only cures.

    Lifecycle mirrors build_base_index: tracked=True registers the
    merged relations with the session cache registry; tracked=False
    hands them to the caller (.release()). The merged relations'
    PLANS reference the old index's frames — release the OLD index
    only after materializing the merged one (eager=True runs a
    count() per relation to do exactly that, the right move in the
    admit loop where the old generation is dropped immediately).

    ``check=True`` (default) runs one guard job rejecting admit sets
    that would silently corrupt the index (doc_ids duplicated in the
    batch or already indexed — see _check_new_doc_ids). It evaluates
    new_docs once; a caller whose disjointness is structural (e.g.
    partitioned doc_id ranges) and whose admit set is expensive to
    recompute may pass check=False and own the precondition."""
    tn, td = _INGEST_T_NUM, _INGEST_T_DEN
    keep = tracked_persist if tracked else (lambda df: df.persist())
    new_docs = new_docs.filter(F.col("text").isNotNull())
    if check:
        _check_new_doc_ids(index, new_docs)

    new_sho = new_docs.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
    )
    if eager:
        # the shingle explode feeds four output relations; in eager
        # mode they all materialize here, so pay the explode once
        new_sho = new_sho.persist()
    try:
        digests, df_rel, df_delta = _merged_aggregates(index, new_docs, new_sho)
        digests, df_rel = keep(digests), keep(df_rel)
        sho = keep(index.shingles.unionByName(new_sho))
        counts = keep(
            index.counts.unionByName(
                new_sho.groupBy("doc_id").agg(F.count("*").alias("n_o"))
            )
        )
        if rerank:
            prefix = keep(
                _delta_prefix(index, new_sho, df_delta, df_rel, tn, td)
            )
        else:
            prefix = keep(
                index.prefix.unionByName(_ranked_prefix(new_sho, df_rel, tn, td))
            )
        merged = BaseIndex(digests, sho, df_rel, counts, prefix)
        if eager:
            for rel in merged:
                rel.count()
        return merged
    finally:
        if eager:
            new_sho.unpersist()


def verify_index_consistency(index: BaseIndex) -> None:
    """One explicit job asserting the index's internal invariant:
    every doc_id in counts has shingle rows. counts is derived from
    shingles, so a counts row with no shingle rows is the
    half-appended crash state of a saved merge (counts is written
    before shingles) — the doc would silently never be a near-tier
    candidate again. Raises ValueError with the rebuild prescription.

    Where this invariant is enforced: automatically at merge time
    (_check_new_doc_ids runs it when diagnosing an already-indexed
    doc_id) and at load time for local paths (the _MERGE_MUTATING
    marker check in load_base_index). Per-ingest guards — notably
    ingest_batch_lsh's check= — deliberately do NOT rescan the
    shingle relation every call (that would make checked ingests
    shingle-scan-sized, not batch-sized), so an ingest-only workload
    over an index on a SHARED store, where the marker check cannot
    run, should call this on a schedule (it is one shingle-scan-sized
    job, the same cost as one cold classify)."""
    orphaned = (
        index.counts.join(index.shingles.select("doc_id"), "doc_id", "left_anti")
        .limit(1)
        .count()
    )
    if orphaned:
        raise ValueError(
            "the index contains doc_ids in counts with no shingle rows — "
            "a previous merge crashed between its appends. The index is "
            "inconsistent; rebuild it (build_base_index + save_base_index "
            "over the corpus) before classifying or admitting more batches"
        )


def _check_new_doc_ids(index: BaseIndex, new_docs) -> None:
    """Loudly reject the admit-set shapes that would silently corrupt
    the index: a doc_id duplicated WITHIN the batch, and a doc_id
    already indexed (a re-delivered batch is a realistic operational
    event — the streaming path is at-least-once across crash recovery;
    admission must be exactly-once). Either would double-count
    shingles, df, and digest counts, skewing later near-tier verdicts
    with no error anywhere. Detection is via the counts relation,
    which covers every doc with >= 3 words (shorter docs have no
    shingle rows in any relation; double-admitting one only inflates
    its digest count). One Spark job for both checks."""
    bad = (
        new_docs.groupBy("doc_id")
        .agg(F.count("*").alias("c"))
        .join(
            index.counts.select("doc_id", F.lit(1).alias("in_index")),
            "doc_id",
            "left",
        )
        .filter((F.col("c") > 1) | F.col("in_index").isNotNull())
        .limit(1)
        .collect()
    )
    if not bad:
        return
    r = bad[0]
    if r["in_index"] is None:
        raise ValueError(
            f"merge: doc_id {r['doc_id']} appears more than once in new_docs; "
            f"admitting it would double-count its shingles/digest and "
            f"silently corrupt near-tier verdicts — deduplicate the admit "
            f"set (e.g. exact_dedup keepers) first"
        )
    # distinguish a clean re-delivery from a half-appended crash: the
    # saved merge appends counts BEFORE shingles, so a crash between
    # them leaves counts rows with no shingle rows — a state only a
    # rebuild repairs (the doc would otherwise never be a near-tier
    # candidate again). Re-prefix with the raising operation, like
    # every other error this guard emits.
    try:
        verify_index_consistency(index)
    except ValueError as e:
        raise ValueError(f"merge: {e}") from None
    raise ValueError(
        f"merge: doc_id {r['doc_id']} in new_docs is already present in the "
        f"index (re-admitting a batch would double-count shingles/digests "
        f"and silently corrupt near-tier verdicts); dedupe the admit set "
        f"against the index first"
    )


def _delta_prefix(index: BaseIndex, new_sho, df_delta, df_rel, tn: int, td: int):
    """The strict merge's prefix relation as a DELTA re-rank, shared by
    the in-session and parquet-backed merges so the two policies cannot
    drift: re-rank exactly the AFFECTED base docs — those sharing >= 1
    shingle with the batch (only their dfs changed, so every other
    doc's per-doc (df, sh) order and n are provably unchanged) — union
    the batch's docs, and keep everyone else's saved prefix rows
    untouched. The window's input is bounded by the postings of the
    batch's shingles rather than the corpus (guide §2.3: shuffle fewer
    bytes into the rank sort). Over a drift-free index the result is
    row-for-row equal to _ranked_prefix over ALL shingles under the
    merged df (pinned by the merge-equals-rebuild tests); untouched
    docs' rows are copied as they are, so drift left by an earlier
    stale merge survives. On saturated vocabularies
    "affected" can approach every doc and this degenerates to the
    wholesale re-rank plus two bounded semi/anti joins."""
    affected = (
        index.shingles.join(df_delta.select("sh"), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    untouched = index.prefix.join(affected, "doc_id", "left_anti")
    rerank_sho = index.shingles.join(
        affected, "doc_id", "left_semi"
    ).unionByName(new_sho)
    return untouched.unionByName(_ranked_prefix(rerank_sho, df_rel, tn, td))


def _merged_aggregates(index: BaseIndex, new_docs, new_sho):
    """The keyed relations' merge semantics, shared by the in-session
    and parquet-backed merges so the two forms cannot drift: digest
    counts and shingle document frequencies are union + re-aggregate
    (MERGE INTOs on a table format). Returns (digests, df, df_delta)."""
    new_dig = new_docs.groupBy(F.md5("text").alias("dig")).agg(
        F.count("*").alias("me")
    )
    digests = (
        index.digests.unionByName(new_dig).groupBy("dig").agg(F.sum("me").alias("me"))
    )
    df_delta = new_sho.groupBy("sh").agg(F.count("*").alias("df"))
    df_rel = (
        index.df.unionByName(df_delta).groupBy("sh").agg(F.sum("df").alias("df"))
    )
    return digests, df_rel, df_delta


class DuplicateAdmitToken(ValueError):
    """A commit token that already exists: the delivery was committed
    by a previous admission. A dedicated class because commit()'s
    release-vs-strand decision dispatches on it — a generic
    ValueError from open/makedirs (e.g. NUL byte in the path) means
    NO token was written and must strand, not release."""


def _admit_receipt(token: str) -> None:
    """Create an exactly-once admission receipt by exclusive create
    (shared by _SavedIndexMutation.commit and the streaming admit
    loop's empty-admit branch, so the two cannot drift). A
    pre-existing token is a caller protocol violation — deliveries
    whose token exists must be skipped BEFORE admitting — and raises
    the same explanatory DuplicateAdmitToken from both paths."""
    import os

    parent = os.path.dirname(token)
    if parent:
        os.makedirs(parent, exist_ok=True)
    try:
        store_proto.create_marker(token, "admission committed\n")
    except FileExistsError:
        raise DuplicateAdmitToken(
            f"commit token {token!r} already exists — the caller must "
            f"skip deliveries whose token is present BEFORE admitting "
            f"(token names are per batch_id; reusing an admit log across "
            f"checkpoint lineages collides them). Replays of this "
            f"delivery will be skipped by the pre-existing token."
        ) from None


class _SavedIndexMutation:
    """One writer's handle on a saved-index directory, yielded by
    _saved_index_mutation: phase-1 generation writes (write_new),
    the mutation-window marker (enter_mutation_window), the
    rename-aside swap, and the exactly-once commit token. The
    ordering the protocol's guarantees rest on is ENFORCED, not
    assumed: generations are written only before the window opens,
    the swap and the commit token only inside it — a future writer
    that mis-sequences fails here instead of mutating unmarked."""

    def __init__(self, path: str, os_path: str, mutating: str):
        self.path, self.os_path = path, os_path
        self._mutating = mutating
        self.swaps: list = []
        self.mutated = False
        # True once the on-disk index is fully consistent again
        # (post-swap): failures after this point are bookkeeping, and
        # the protocol releases its markers instead of demanding a
        # rebuild of an index that is provably fine
        self.consistent = False

    def write_new(self, name: str, rel) -> None:
        """Phase 1: write ``name``'s next generation to ``name__new``,
        reading only existing directories. Recorded BEFORE the write,
        so an abort cleans a partially-written generation too."""
        import os

        if self.mutated:
            raise RuntimeError(
                "saved-index protocol violation: write_new() inside the "
                "mutation window — generations must be written (reading "
                "only old directories) before enter_mutation_window()"
            )
        self.swaps.append(name)
        rel.write.mode("overwrite").parquet(os.path.join(self.path, name + "__new"))

    def enter_mutation_window(self) -> None:
        """Raise the _MERGE_MUTATING marker: from here until the swap
        completes, a crash strands the marker and both the next
        writer and load_base_index refuse with a rebuild
        instruction."""
        if self.mutated:
            raise RuntimeError(
                "saved-index protocol violation: the mutation window was "
                "already entered"
            )
        # a payload-write failure removes the marker again: nothing
        # was mutated yet, and an intact index must not demand a
        # rebuild
        store_proto.create_marker(
            self._mutating,
            "mutation in progress; if this file survives, rebuild\n",
        )
        self.mutated = True

    def swap(self) -> None:
        """Phase 3: rename-aside swap of every generation written with
        write_new (``name`` -> ``name__old``, ``name__new`` ->
        ``name``, drop ``__old``) — two renames per relation, not a
        recursive delete, inside the marked window. A FIRST generation
        (the live directory does not exist yet — e.g. attaching the
        optional bands relation to an existing index) is one rename.
        After the last rename the index is consistent again; post-swap
        failures release the markers rather than stranding them."""
        import os
        import shutil

        if not self.mutated:
            raise RuntimeError(
                "saved-index protocol violation: swap() outside the "
                "mutation window — an unmarked crash mid-swap would be "
                "silent corruption; call enter_mutation_window() first"
            )
        for name in self.swaps:
            old = os.path.join(self.os_path, name)
            had_old = os.path.exists(old)
            if had_old:
                os.rename(old, old + "__old")
            os.rename(old + "__new", old)
            if had_old:
                shutil.rmtree(old + "__old")
        self.consistent = True

    def commit(self, token: str) -> None:
        """Create the exactly-once receipt INSIDE the mutation window,
        after swap(): token present means the admission committed in
        full. A failure here (duplicate token, unwritable log) leaves
        a CONSISTENT index — the swap already applied — so the
        protocol releases its markers and surfaces the error loudly;
        a replayed delivery then either skips (token exists) or fails
        the admission guard (docs already indexed), never silently
        double-admits."""
        if not self.consistent:
            raise RuntimeError(
                "saved-index protocol violation: commit() before swap() — "
                "the receipt must attest a completed admission"
            )
        try:
            _admit_receipt(token)
        except DuplicateAdmitToken:
            # the PRE-EXISTING token already skips replays, so
            # releasing the markers is safe — the index and the
            # replay contract are both intact
            raise
        except BaseException:
            # receipt write failed. If a token file nonetheless exists
            # (the create succeeded and removing it after the failed
            # payload write failed too), replays are already skipped
            # and release is safe. If NO
            # token exists, a replay would re-classify the batch
            # against the post-admission index — every doc its own
            # exact dup, silently — so strand the markers: that
            # window stays loud, exactly like a crash here.
            import os

            token_on_disk = False
            with contextlib.suppress(Exception):
                token_on_disk = os.path.exists(token)
            if not token_on_disk:
                self.consistent = False
            raise


@contextlib.contextmanager
def _saved_index_mutation(path: str):
    """Single-writer mutation protocol for a saved-index directory,
    shared by merge_into_saved_index and compact_saved_index so the
    two writers cannot drift (plain parquet has no transactions;
    concurrency control is pessimistic and every bad state is
    detected LOUDLY rather than silently misclassifying):

    1. ``_MERGE_INPROGRESS`` is the writer LOCK, acquired by exclusive
       create before ANYTHING runs — a concurrent writer fails at
       acquisition having computed and written nothing, so no two
       writers can interleave generation writes or derive generations
       from each other's pre-mutation snapshots.
    2. Under the lock, the body writes new generations reading only
       the old directories. Any failure before the mutation window
       aborts cleanly: the writer removes its own ``__new`` output
       and releases the lock — the index was never touched.
    3. ``_MERGE_MUTATING`` brackets the actual mutation (appends and
       the rename-aside swap). A crash inside it strands the marker,
       and both the next writer and load_base_index refuse with a
       rebuild instruction. A stranded lock WITHOUT the mutating
       marker means the index is intact: the error says so, and says
       removal is safe once no writer is running."""
    import os
    import shutil

    # Spark and the os-level guard/swap must act on the byte-exact
    # same directory; the store resolver yields the canonical local pair.
    spark_path, os_path = _saved_index_paths(path)
    mutating = os.path.join(os_path, "_MERGE_MUTATING")
    if os.path.exists(mutating):
        raise ValueError(
            f"saved index at {spark_path!r} has a _MERGE_MUTATING marker: a "
            f"merge crashed inside its mutation window (appends or swap "
            f"may be partial). The index is inconsistent; rebuild it "
            f"(build_base_index + save_base_index over the corpus)"
        )
    inprog = os.path.join(os_path, "_MERGE_INPROGRESS")
    try:
        store_proto.create_marker(
            inprog, "merge lock; stale + no _MERGE_MUTATING => index intact\n"
        )
    except FileExistsError:
        raise ValueError(
            f"saved index at {spark_path!r}: _MERGE_INPROGRESS is held — a "
            f"concurrent merge is running, or one crashed before reaching "
            f"its mutation window. Nothing from this merge was applied, "
            f"and the index itself is intact; once no merge is running, "
            f"remove _MERGE_INPROGRESS and any *__new directories, then "
            f"retry"
        ) from None

    def _sweep_new_generations():
        # any __new directory under the lock is dead output (this
        # writer's abort, or an older writer killed pre-window):
        # full-size copies of the largest relations — remove them
        # rather than leaving unbounded litter for the NEXT writer
        # that happens to rewrite the same relation
        for name in _SAVED_RELATIONS:
            with contextlib.suppress(OSError):
                shutil.rmtree(os.path.join(os_path, name + "__new"))

    mut = _SavedIndexMutation(spark_path, os_path, mutating)
    try:
        # under the lock: leftover diagnosis and every generation
        # write are race-free against other writers
        for name in _SAVED_RELATIONS:
            if os.path.exists(os.path.join(os_path, name + "__old")):
                raise ValueError(
                    f"saved index at {spark_path!r} has a leftover {name}__old "
                    f"directory with no mutation marker (manual tampering "
                    f"or a pre-protocol crash); rebuild it "
                    f"(build_base_index + save_base_index over the corpus)"
                )
            # stale __new from an older crash: overwritten or swept
        yield mut
        if mut.mutated and not mut.consistent:
            # the writer entered its mutation window, may have appended,
            # and returned WITHOUT swap(): the keyed generations were
            # never swapped in, so the on-disk relations can be mutually
            # inconsistent. The class docstring promises the ordering is
            # ENFORCED — honor it: raise, and let the exception path
            # below strand both markers (mutated and not consistent), so
            # the next writer and every reader refuse loudly.
            raise RuntimeError(
                "saved-index protocol violation: the writer entered its "
                "mutation window but returned without swap() — appends may "
                "have landed while the keyed generations were never "
                "swapped in. The markers stay stranded; rebuild the index "
                "(build_base_index + save_base_index(force=True) over the "
                "corpus)"
            )
        if mut.mutated:
            os.remove(mutating)
        _sweep_new_generations()
        os.remove(inprog)
    except BaseException:
        if not mut.mutated or mut.consistent:
            # the index was never touched (pre-window failure), or the
            # swap completed and only post-swap bookkeeping failed —
            # either way the on-disk index is consistent: clean up and
            # release so the caller can retry / keep reading, keeping
            # the real exception loud (cleanup failures never mask it)
            _sweep_new_generations()
            if mut.consistent:
                with contextlib.suppress(OSError):
                    os.remove(mutating)
            with contextlib.suppress(OSError):
                os.remove(inprog)
        # a crash INSIDE the window (mutated, not yet consistent)
        # strands both markers — that IS the loud signal
        raise


def merge_into_saved_index(
    spark,
    path: str,
    new_docs,
    rerank: bool = True,
    check: bool = True,
    commit_token: str | None = None,
) -> None:
    """Admit ``new_docs`` into a parquet-materialized index (the
    save_base_index layout) IN PLACE — the production form of
    merge_into_base_index, where incremental really means incremental
    I/O. The in-session form can only union persisted frames, so
    "appending" still materializes a full new cache generation; here
    the per-doc relations are parquet APPENDS (new files only, the
    base's files untouched — O(batch) data written):

    - ``shingles`` / ``counts``: append the batch's rows.
    - ``bands`` (optional sixth relation — save_base_index
      with_bands=True or save_index_bands): append the batch's band
      rows. Band rows depend only on a doc's own shingles, so the
      append IS exact maintenance; doing it inside this mutation
      window keeps bands in lockstep with the index by construction
      (ingest_batch_lsh's check= guard passes across admissions).
    - ``prefix`` with rerank=False: append the new docs' prefix rows
      ranked under the merged df (the stale policy — near-tier recall
      for drifted base docs degrades until compact_saved_index or a
      rebuild, the only cures: a later strict merge re-ranks only the
      docs sharing a shingle with its own batch and copies the other
      docs' drifted rows forward; exact tier is rank-free and
      unaffected).
    - ``digests`` / ``df``: aggregates keyed by digest/shingle — one
      row per distinct value, the small relations — re-aggregated and
      swapped in as a new generation (plain parquet cannot merge rows
      in place; with a table format these are MERGE INTOs).
    - ``prefix`` with rerank=True (default, strict): rewritten as a
      new generation under the merged df, as the DELTA re-rank the
      in-session merge runs (shared _delta_prefix): only docs sharing
      a shingle with the batch enter the rank window, everyone else's
      saved prefix rows are copied forward — and the corpus is NEVER
      re-shingled: the rank reads the existing shingles parquet
      instead of re-running the explode + distinct over all document
      text, which is the dominant stage of build_base_index.

    Concurrency + failure contract: the _saved_index_mutation
    single-writer protocol (SINGLE-WRITER lock, clean pre-mutation
    abort, loud _MERGE_MUTATING strand on a mid-mutation crash —
    see its docstring). This merge's mutation window runs the
    appends COUNTS FIRST (the re-admission guard's sentinel, so a
    partially-appended batch makes any retry fail loudly instead of
    double-counting), then the rename-aside swap.

    ``commit_token``: optional path of a receipt file created inside
    the mutation window, AFTER the swap — the exactly-once admission
    handshake for at-least-once callers (the streaming admit loop,
    streaming/ingest.py): a replayed delivery whose token exists was
    fully admitted and must be skipped; a CRASH between swap and
    token strands _MERGE_MUTATING, so that gap is loud, never
    silently re-admitted. A non-crash failure there (duplicate
    token, unwritable log) leaves a consistent index — the swap
    already applied — so the protocol releases its markers and
    raises: a replay then either skips (token exists) or fails the
    admission guard (docs already indexed).

    Re-admitting doc_ids already in the index raises (see
    _check_new_doc_ids; check=False skips the guard job for callers
    with structural disjointness). Only local paths are supported — the swap
    uses filesystem renames; on an object store, write a fresh
    generation (build + save) or use a transactional table format,
    where digests/df become MERGE INTOs and the swap is a commit."""
    import os

    tn, td = _INGEST_T_NUM, _INGEST_T_DEN
    new_docs = new_docs.filter(F.col("text").isNotNull())
    with _saved_index_mutation(path) as mut:
        path = mut.path  # canonical spark-side form of the location
        new_sho = new_docs.select(
            "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
        ).persist()
        try:
            index = load_base_index(spark, path)
            if check:
                _check_new_doc_ids(index, new_docs)

            # phase 1: write every new generation, reading ONLY the old
            # directories (the strict prefix's delta re-rank reads the
            # saved shingles/prefix plus the batch — not the appended
            # files — so no step here depends on a mutation having
            # happened). Generation writes
            # have no ordering contract before the window (the swap
            # publishes them), so they run as concurrent Spark actions.
            import concurrent.futures

            digests, df_rel, df_delta = _merged_aggregates(index, new_docs, new_sho)
            gens = [("digests", digests), ("df", df_rel)]
            if rerank:
                # strict: order-dependent, so a new generation — but from
                # the saved shingles, never by re-shingling document text,
                # and as the DELTA re-rank (only affected docs enter the
                # rank window; everyone else's saved prefix rows are
                # copied forward) — the same policy as the in-session
                # merge via the shared _delta_prefix
                gens.append(
                    ("prefix", _delta_prefix(index, new_sho, df_delta, df_rel, tn, td))
                )
            with concurrent.futures.ThreadPoolExecutor(
                max_workers=len(gens)
            ) as ex:
                for f in [
                    ex.submit(lambda n=n, rel=rel: mut.write_new(n, rel))
                    for n, rel in gens
                ]:
                    f.result()

            # the optional bands relation is maintained in the SAME
            # mutation window as everything else, so ingest_batch_lsh's
            # lockstep guard passes by construction across admissions
            # (probed before the window: reading only old directories)
            has_bands = os.path.isdir(os.path.join(mut.os_path, "bands"))

            # phases 2-3 are the mutation window
            mut.enter_mutation_window()

            # phase 2: appends — counts first
            new_sho.groupBy("doc_id").agg(F.count("*").alias("n_o")).write.mode(
                "append"
            ).parquet(os.path.join(path, "counts"))
            new_sho.write.mode("append").parquet(os.path.join(path, "shingles"))
            if has_bands:
                # band rows depend only on a doc's OWN shingles (see
                # merge_lsh_bands): appending the batch's rows IS the
                # exact maintenance — O(batch), no existing row changes
                lsh_bands(new_sho).write.mode("append").parquet(
                    os.path.join(path, "bands")
                )
            if not rerank:
                # stale: append only the new docs' prefix rows, ranked
                # under the merged df (df_rel still reads the old df
                # directory — the swap has not happened yet)
                _ranked_prefix(new_sho, df_rel, tn, td).write.mode(
                    "append"
                ).parquet(os.path.join(path, "prefix"))

            # phase 3: rename-aside swap, then the admission receipt
            mut.swap()
            if commit_token is not None:
                mut.commit(commit_token)
        finally:
            new_sho.unpersist()


def compact_saved_index(spark, path: str) -> None:
    """Rewrite a saved index as one fresh, self-consistent generation
    WITHOUT re-reading any document text — the periodic compaction
    the stale merge policy (merge_into_saved_index(rerank=False))
    contracts to: it cures prefix staleness exactly and collapses the
    per-admission small files that appends accumulate.

    The stored ``shingles`` relation is the single source of truth:
    ``df``, ``counts``, and the ranked ``prefix`` are recomputed from
    it, so a compacted index equals a from-scratch build_base_index
    over the same corpus relation-for-relation (pinned in
    tests/test_dedup.py) — except that build's dominant stage,
    re-shingling all document text, never runs. ``digests`` cannot be
    derived from shingles (it needs text) but needs no cure: merges
    maintain it exactly (union + re-aggregate), so it is rewritten
    as-is. Total cost is one pass over the index's own relations —
    O(index), not O(corpus text); at 100 TB this is the scheduled
    maintenance job between which rerank=False admissions are free to
    let prefix ranks drift.

    The optional ``bands`` relation, when present, is rewritten from
    the same shingle snapshot (it stays VALID across compaction — the
    doc set never changes — but rewriting collapses its per-admission
    small files too).

    Same _saved_index_mutation single-writer protocol as the merge;
    compaction's mutation window contains ONLY the relation renames
    (all generations are written before the window opens), so its
    crash-demands-rebuild exposure is a few syscalls wide."""
    import os

    tn, td = _INGEST_T_NUM, _INGEST_T_DEN
    with _saved_index_mutation(path) as mut:
        index = load_base_index(spark, mut.path)
        # snapshot shingles first; every recomputation below reads the
        # written __new generation, not the live directory, so one
        # file listing defines the whole compaction
        mut.write_new("shingles", index.shingles)
        sho = spark.read.parquet(os.path.join(mut.path, "shingles__new"))
        # generation writes before the mutation window have NO ordering
        # contract (the swap at the end is what publishes them), so the
        # independent relations — counts, digests, bands — run as
        # concurrent Spark actions beside the df -> prefix chain, which
        # alone is order-dependent (prefix reads the written df__new)
        import concurrent.futures

        side = [
            (
                "counts",
                sho.groupBy("doc_id").agg(F.count("*").alias("n_o")),
            ),
            ("digests", index.digests),
        ]
        if os.path.isdir(os.path.join(mut.os_path, "bands")):
            # bands stay VALID across compaction (the doc set and the
            # shingles themselves never change — merge_lsh_bands'
            # contract), but rewriting them from the snapshot collapses
            # the per-admission small files exactly like the others
            side.append(("bands", lsh_bands(sho)))
        with concurrent.futures.ThreadPoolExecutor(max_workers=len(side)) as ex:
            futures = [
                ex.submit(lambda n=n, df=df: mut.write_new(n, df))
                for n, df in side
            ]
            mut.write_new("df", sho.groupBy("sh").agg(F.count("*").alias("df")))
            df_rel = spark.read.parquet(os.path.join(mut.path, "df__new"))
            mut.write_new("prefix", _ranked_prefix(sho, df_rel, tn, td))
            for f in futures:
                f.result()
        mut.enter_mutation_window()
        mut.swap()


def _ingest_exact_tier(batch, index: BaseIndex):
    """The digest tier shared by every ingest classifier: (ex,
    batch_rest) where ex = (doc_id, me) exact-match counts and
    batch_rest = the docs that continue to the near tier."""
    ex = (
        batch.select("doc_id", F.md5("text").alias("dig"))
        .join(index.digests, "dig")
        .select("doc_id", "me")
    )
    return ex, batch.join(ex, "doc_id", "left_anti")


def _ingest_near_verify(cand, shb, index: BaseIndex):
    """Exact co-occurrence verification shared by every ingest near
    tier: given candidate pairs (db, do), count shared shingles and
    keep pairs with Jaccard >= tn/td via the integer form
    (td + tn)·c >= tn·(n_b + n_o) — no float boundary. Returns
    (doc_id, mn) verified-match counts per batch doc. Precision is
    exact regardless of how candidates were generated."""
    tn, td = _INGEST_T_NUM, _INGEST_T_DEN
    nb = shb.groupBy("doc_id").agg(F.count("*").alias("n_b"))
    return (
        cand.join(shb.select(F.col("doc_id").alias("db"), "sh"), "db")
        .join(index.shingles.select(F.col("doc_id").alias("do"), "sh"), ["do", "sh"])
        .groupBy("db", "do")
        .agg(F.count("*").alias("c"))
        .join(nb.withColumnRenamed("doc_id", "db"), "db")
        .join(index.counts.withColumnRenamed("doc_id", "do"), "do")
        .filter((td + tn) * F.col("c") >= tn * (F.col("n_b") + F.col("n_o")))
        .groupBy("db")
        .agg(F.count("*").alias("mn"))
        .withColumnRenamed("db", "doc_id")
    )


def _ingest_verdicts(batch, ex, near):
    """The shared classification select: exact beats near beats new,
    n_base_matches = the winning tier's match count."""
    return (
        batch.select("doc_id")
        .join(ex, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("me").isNotNull(), F.lit("exact"))
            .when(F.col("mn").isNotNull(), F.lit("near"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("me", "mn", F.lit(0)).cast("long").alias("n_base_matches"),
        )
        .orderBy("doc_id")
    )


def ingest_batch(batch, index: BaseIndex, keep=tracked_persist):
    """Phase 2: classify one batch against a prebuilt BaseIndex —
    only batch-sized relations are computed here; every base-side
    input is read from the index. ``keep`` receives the batch-scoped
    persist (the multi-consumed shingle relation): the default
    registers it with the session cache registry; a caller managing
    its own lifecycle (e.g. the streaming ingest loop, which must
    release per micro-batch without touching the global registry from
    its worker thread) passes a local collector.

    Near-tier candidates come from the asymmetric AllPairs prefix
    filter (exact recall). On corpora whose shingle space has
    SATURATED (fixed vocabulary, avg df growing with corpus size) the
    prefix join's candidate count grows like df² — use
    ingest_batch_lsh / ingest_batch_adaptive there."""
    tn, td = _INGEST_T_NUM, _INGEST_T_DEN
    ex, batch_rest = _ingest_exact_tier(batch, index)
    shb = keep(
        batch_rest.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    )
    pb, po = _ranked_prefix(shb, index.df, tn, td).alias("pb"), index.prefix.alias("po")
    cand = (
        pb.join(
            po,
            (F.col("pb.sh") == F.col("po.sh"))
            & (F.col("po.n") * tn <= F.col("pb.n") * td)
            & (F.col("pb.n") * tn <= F.col("po.n") * td),
        )
        .select(
            F.col("pb.doc_id").alias("db"), F.col("po.doc_id").alias("do")
        )
        .distinct()
    )
    return _ingest_verdicts(batch, ex, _ingest_near_verify(cand, shb, index))


def lsh_bands(sh):
    """Banded MinHash over an exploded (doc_id, sh) shingle relation:
    (doc_id, band, bucket), one row per band. The signature is the
    grouped form of minhash_signature (per-lane MIN of the same
    permutations over the same xxhash64 shingle space — lane-for-lane
    equality with the array fold is pinned in tests/test_dedup.py),
    which is the right shape when the shingles already live as an
    exploded relation (the BaseIndex): ONE groupBy with k map-combined
    min aggregates, no array materialization. Docs with no shingle
    rows (< n words) produce no bands — they can never be near-tier
    candidates, exactly like the prefix tier."""
    p = F.lit(_MERSENNE_P)
    # fold the 64-bit hash into [0, p) ONCE per shingle row before the
    # groupBy (same reduction minhash_signature makes outside its
    # k-lane zip) — Catalyst does not dedupe subexpressions across
    # separate aggregate functions, so embedding the inner pmod in all
    # k lanes would pay 2k pmods per row instead of k+1.
    reduced = sh.select("doc_id", F.pmod(F.col("sh"), p).alias("shp"))
    lanes = [
        F.min(
            F.pmod(
                F.col("shp") * F.lit(_perm_params(i)[0]) + F.lit(_perm_params(i)[1]),
                p,
            )
        ).alias(f"l{i}")
        for i in range(_NUM_HASHES)
    ]
    sig = reduced.groupBy("doc_id").agg(*lanes)
    band_structs = _band_structs(lambda i: F.col(f"l{i}"))
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )


class StaleLshBands(ValueError):
    """A prebuilt bands relation whose doc set has drifted from the
    index it is passed with — the admit loop merged the index but not
    the bands (or vice versa). A dedicated class because the caller's
    correct reaction is specific: re-derive the bands (merge_lsh_bands
    after every admission, or rebuild from index.shingles), not retry.
    NOT raised when the index itself is internally inconsistent
    (counts drifted from shingles) — that is the index's problem, not
    the bands', and surfaces as a plain ValueError so a
    rebuild-the-bands handler cannot mis-dispatch on it."""


def _raise_band_drift(band_docs, index: BaseIndex):
    """The bands guard's cold path — only runs once the doc-sized
    bands-vs-counts comparison has already failed, and always raises.
    ``band_docs`` is the distinct bands doc-set frame the hot path
    already built. Diagnoses against index.shingles, the relation
    bands is DEFINED over (counts can orphan-drift from shingles in
    the crash state _check_new_doc_ids diagnoses), aggregating BOTH
    drift directions in one job so the diagnosis is deterministic —
    a bidirectional mismatch must be named as such, because each
    direction's remedy ('append the missing docs' vs 'use the
    matching index') would compound the other direction's drift."""
    flags = (
        band_docs.withColumn("in_bands", F.lit(1))
        .join(
            index.shingles.select("doc_id")
            .distinct()
            .withColumn("in_index", F.lit(1)),
            "doc_id",
            "full_outer",
        )
        .agg(
            F.max(F.col("in_index").isNull().cast("int")).alias("ahead"),
            F.max(F.col("in_bands").isNull().cast("int")).alias("behind"),
        )
        .collect()[0]
    )
    ahead, behind = bool(flags["ahead"]), bool(flags["behind"])
    if ahead and behind:
        raise StaleLshBands(
            "prebuilt bands and the index's shingle relation each contain "
            "docs the other lacks — they are from different index "
            "generations entirely; rebuild the bands from "
            "lsh_bands(index.shingles) (appending with merge_lsh_bands "
            "would compound the drift, not fix it)"
        )
    if behind:
        raise StaleLshBands(
            "prebuilt bands have no rows for some indexed docs: the bands "
            "were not maintained across an admission, so near-tier recall "
            "would be silently lost for those docs — append them with "
            "merge_lsh_bands after every merge_into_base_index, or rebuild "
            "the bands from lsh_bands(index.shingles)"
        )
    if ahead:
        raise StaleLshBands(
            "prebuilt bands contain docs the index's shingle relation does "
            "not: the bands are AHEAD of (or from a different generation "
            "than) this index — pass the matching index, or rebuild the "
            "bands from lsh_bands(index.shingles); running merge_lsh_bands "
            "again would compound the drift, not fix it"
        )
    # bands match index.shingles' doc set exactly, yet the doc-sized
    # comparison against counts failed: the INDEX is internally
    # inconsistent (counts drifted from shingles — a merge crashed
    # between its appends). Plain ValueError: the bands are fine, and
    # a StaleLshBands handler that rebuilds bands must not swallow it.
    raise ValueError(
        "the prebuilt bands match index.shingles' doc set exactly, but "
        "index.counts does not: the index is internally inconsistent (a "
        "previous merge crashed between its appends) — rebuild it "
        "(build_base_index + save_base_index over the corpus); the bands "
        "are not the problem"
    )


def ingest_batch_lsh(
    batch, index: BaseIndex, bands=None, keep=tracked_persist, check=True
):
    """ingest_batch with MinHash-LSH candidate generation — the tier
    for SATURATED shingle spaces, where the AllPairs prefix join's
    candidate count grows like df² (measured at the .scale/sf1 rung,
    saturation 70.6: classifying 5k docs against a 40k-doc base takes
    44.4 s via the prefix tier vs 5.1 s here, with the base bands a
    2.0 s one-time build; this tier's candidates are bounded by band-
    bucket sizes instead). Exact tier and the exact co-occurrence
    verification are IDENTICAL to ingest_batch — precision is exact;
    only candidate recall is S-curve-bounded (8×4 banding: ~67% per
    pair at J exactly 0.6, →1 rapidly above; measured 1.0 on every
    fixture SF, pinned in tests/test_dedup.py).

    ``bands``: the base side's (doc_id, band, bucket) relation from
    lsh_bands(index.shingles) — pass a persisted/materialized one for
    repeated ingests (the two-phase pattern: built once, batch pays
    batch-sized work); defaults to deriving it from the index's
    shingle relation in-plan. A prebuilt bands relation MUST be kept
    in lockstep with the index across admissions: after every
    merge_into_base_index, append the admitted docs' rows with
    merge_lsh_bands (append-only — cheap), or recall is silently lost
    for exactly those docs.

    ``check=True`` (default) makes maintenance drift loud instead of
    silent. The hot path is one set-exact job over the two DOC-sized
    relations (the bands' distinct doc_ids vs index.counts — never a
    scan of the exploded shingle relation, so checked ingests stay
    batch-plus-doc-set-sized); only after a mismatch does the cold
    diagnostic consult index.shingles (the relation bands is defined
    over) to name the drift direction deterministically, since the
    directions have opposite remedies. Scope: the guard detects
    bands-vs-index LOCKSTEP drift through the counts proxy; it does
    NOT re-verify the index's own counts/shingles consistency each
    call — that invariant is enforced at merge time
    (_check_new_doc_ids), at load time (_MERGE_MUTATING), and on
    demand via verify_index_consistency for shared-store ingest-only
    workloads where neither runs. A high-rate caller whose lockstep
    is structural (e.g. the same code path always merges both) may
    pass check=False and own the invariant."""
    if bands is not None and check:
        band_docs = bands.select("doc_id").distinct()
        drift = (
            band_docs.withColumn("in_bands", F.lit(1))
            .join(
                index.counts.select("doc_id").withColumn("in_counts", F.lit(1)),
                "doc_id",
                "full_outer",
            )
            .filter(F.col("in_bands").isNull() | F.col("in_counts").isNull())
            .limit(1)
            .count()
        )
        if drift:
            _raise_band_drift(band_docs, index)
    ex, batch_rest = _ingest_exact_tier(batch, index)
    shb = keep(
        batch_rest.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    )
    base_bands = bands if bands is not None else lsh_bands(index.shingles)
    cand = (
        lsh_bands(shb)
        .withColumnRenamed("doc_id", "db")
        .join(
            base_bands.withColumnRenamed("doc_id", "do"),
            ["band", "bucket"],
        )
        .select("db", "do")
        .distinct()
    )
    return _ingest_verdicts(batch, ex, _ingest_near_verify(cand, shb, index))


def ingest_batch_adaptive(
    batch,
    index: BaseIndex,
    bands=None,
    keep=tracked_persist,
    saturation=None,
    check=True,
):
    """Ingest-time tier dispatch — the ingest form of
    dedup_neardup_adaptive's round-7 tiering rule: ONE bounded
    aggregate over the index's shingle relation (rows /
    approx_count_distinct = average shingle df) picks the candidate
    tier. Below the saturation threshold (growing vocabulary), the
    exact AllPairs prefix filter — full recall, no precondition; at
    or above it (templated/fixed vocabulary, where the prefix join
    goes df²), banded MinHash-LSH. Both tiers share the digest exact
    tier and the exact verification, so precision is always exact.

    ``saturation``: the statistic is a property of the INDEX, not the
    batch — repeated-ingest callers (the two-phase pattern) compute
    shingle_saturation(index.shingles) once per index generation and
    pass it here, so per-batch work stays batch-sized; the default
    (None) computes it in-call, which is right only for one-shot use
    (it is an index-sized aggregate plus a blocking collect)."""
    sat = saturation if saturation is not None else shingle_saturation(index.shingles)
    if sat < _SATURATION_AVG_DF:
        return ingest_batch(batch, index, keep=keep)
    return ingest_batch_lsh(batch, index, bands=bands, keep=keep, check=check)


def merge_lsh_bands(bands, admitted, admitted_sh=None):
    """Append-only maintenance for a caller-held base bands relation
    (the prebuilt ``bands=`` of ingest_batch_lsh): a doc's band rows
    depend only on its OWN shingles — unlike the prefix ranks, which
    merge_into_base_index must re-rank because they depend on global
    df — so keeping bands fresh across admissions is a pure union of
    the admitted docs' (doc_id, text) band rows; no existing row ever
    changes. The caller owns the lifecycle (persist the returned
    relation, unpersist the old one), exactly like the index.

    This call is NOT optional in an admit loop: a bands relation left
    stale across merge_into_base_index has no rows for admitted docs,
    so a later near-dup of an admitted doc finds zero LSH candidates
    and is silently re-admitted as 'new' — the recall loss pinned in
    tests/test_dedup.py::test_merge_lsh_bands_keeps_admitted_docs
    (and made loud by ingest_batch_lsh's check= guard). Compaction is
    the one maintenance event bands DON'T track: compact_saved_index
    re-derives df/counts/prefix but never changes the doc set or the
    shingles themselves, so an up-to-date bands relation stays valid
    across it unchanged.

    ``admitted_sh``: the admitted docs' exploded (doc_id, sh) shingle
    relation, if the caller already has one — the lockstep admit loop
    shingles the same docs for merge_into_base_index, so passing it
    here avoids tokenizing and hashing the batch text twice; the
    default derives it from ``admitted`` (doc_id, text). At least one
    of the two must be provided — passing both is fine (``admitted``
    is simply ignored when ``admitted_sh`` is given); ``admitted``
    may be None only when ``admitted_sh`` is given."""
    if admitted is None and admitted_sh is None:
        raise ValueError(
            "merge_lsh_bands: pass the admitted docs as (doc_id, text) "
            "via `admitted` or as an exploded (doc_id, sh) shingle "
            "relation via `admitted_sh`"
        )
    sh = (
        admitted_sh
        if admitted_sh is not None
        else admitted.select(
            "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
        )
    )
    return bands.unionByName(lsh_bands(sh))


def incremental_ingest_status(batch, base):
    """One-shot form of the two-phase ingest API (build_base_index +
    ingest_batch) over arbitrary (doc_id, text) batch/base DataFrames
    — the oracle-checked query body; index-reuse == recompute
    equality is pinned in tests/test_dedup.py."""
    return ingest_batch(batch, build_base_index(base))


@query("dedup_incremental_ingest", oracle=_incremental_ingest_oracle())
def dedup_incremental_ingest(spark, sf_dir):
    """Ingest-time dedup of an incoming batch (doc_id % 10 == 0)
    against the existing corpus (the rest): 'exact' (digest match in
    base, count of matches), else 'near' (3-gram Jaccard >= 3/5
    against some base doc — exact relation, count of matches), else
    'new'.

    Scale shape — the point of the operator is what it does NOT do:
    the base corpus is never paired against itself, and (since r10)
    never re-indexed per ingest: build_base_index persists the base's
    digest counts, shingles, document frequencies, and ranked prefix
    ONCE, and ingest_batch computes only batch-sized relations against
    them. The exact tier is a digest join (32-byte keys). The near
    tier runs the asymmetric AllPairs prefix filter: the BASE's
    shingle document frequencies define one fixed (df, shingle) total
    order (batch-only shingles rank df = 0, i.e. rarest — the prefix
    theorem needs any consistent total order, not union-df); each
    side keeps only its n - ceil(t*n) + 1 rarest shingles (integer
    ceil: (3n + 4) div 5) for candidate generation, so a J >= t pair
    provably collides on a kept shingle; candidates pass the
    t <= na/nb <= 1/t length filter and are verified by exact
    co-occurrence counts with the integer-form threshold
    8c >= 3(na + nb) — no float boundary. Every join is shingle- or
    pair-keyed; at 100 TB repeated ingests pay batch-sized work plus
    one stream over the prebuilt index."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return incremental_ingest_status(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
    )


@query("dedup_ingest_after_merge", oracle=_incremental_ingest_oracle())
def dedup_ingest_after_merge(spark, sf_dir):
    """The production admit loop, end-to-end through the incremental
    maintenance path: build the index on PART of the corpus
    (doc_id % 10 not in {0, 5}), admit the rest of the base
    (doc_id % 10 == 5) via merge_into_base_index (strict re-rank),
    then classify the arriving batch (doc_id % 10 == 0) against the
    MERGED index. The oracle is the one-shot SQL over the full base
    (doc_id % 10 != 0) — i.e. the differential pins that
    build + merge + ingest == build-on-everything + ingest, including
    the re-ranked prefix's effect on near-tier candidate generation."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    idx = build_base_index(d.filter(F.col("doc_id") % 10 % 5 != 0))
    merged = merge_into_base_index(idx, d.filter(F.col("doc_id") % 10 == 5))
    return ingest_batch(d.filter(F.col("doc_id") % 10 == 0), merged)


@query("dedup_ingest_chain", oracle=_ingest_chain_oracle())
def dedup_ingest_chain(spark, sf_dir):
    """The full self-growing admit loop (the batch twin of
    streaming/ingest.py's stream_ingest_admit): classify batch 1
    (doc_id % 10 == 5) against the base (the rest), ADMIT exactly its
    'new' docs via merge_into_base_index, then classify batch 2
    (doc_id % 10 == 0) against the GROWN base — so batch 2's verdicts
    can depend on batch 1's admissions, which is the property the
    chained oracle pins in plain SQL (cls1 -> base2 := base1 + new(b1)
    -> cls2). Returns both classifications tagged by batch_no.

    Scale shape: each link pays batch-sized work (digest join + the
    asymmetric AllPairs prefix filter against the maintained index);
    the admission is merge_into_base_index, whose work is bounded by
    the batch's shingle postings, never a corpus rebuild — the loop a
    100 TB corpus runs forever."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = d.filter(F.col("doc_id") % 10 % 5 != 0)
    b1 = d.filter(F.col("doc_id") % 10 == 5)
    b2 = d.filter(F.col("doc_id") % 10 == 0)
    idx = build_base_index(base)
    c1 = tracked_persist(ingest_batch(b1, idx))
    new1 = b1.join(
        c1.filter(F.col("status") == "new").select("doc_id"), "doc_id", "left_semi"
    )
    c2 = ingest_batch(b2, merge_into_base_index(idx, new1))
    return (
        c1.select(
            F.lit(1).alias("batch_no"), "doc_id", "status", "n_base_matches"
        )
        .unionByName(
            c2.select(
                F.lit(2).alias("batch_no"), "doc_id", "status", "n_base_matches"
            )
        )
        .orderBy("batch_no", "doc_id")
    )


@query("dedup_ingest_adaptive", oracle=_incremental_ingest_oracle())
def dedup_ingest_adaptive(spark, sf_dir):
    """Adaptive-tier ingest classification — dedup_incremental_ingest
    with ingest_batch_adaptive picking the near-tier candidate
    generator from the index's measured shingle saturation (the
    ingest twin of dedup_neardup_adaptive). Oracle: the exact-tier
    SQL — valid because precision is exact on BOTH tiers (shared
    digest tier + shared exact co-occurrence verification), and on
    every fixture SF candidate recall is measured at 1.0 with the
    dispatch itself choosing the full-recall prefix tier (saturation
    1.5-8.8, threshold 24); tier-equality across all fixture SFs is
    pinned in tests/test_dedup.py. On the saturated synthetic rung
    (.scale/sf1, saturation 70.6) the dispatch flips to LSH: 5.1 s
    vs the prefix tier's 44.4 s for 5k docs against a 40k-doc base,
    with the S-curve recall tail (3/5000 borderline J~=0.6 verdicts)
    documented in SCALING.md."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    idx = build_base_index(d.filter(F.col("doc_id") % 10 != 0))
    return ingest_batch_adaptive(d.filter(F.col("doc_id") % 10 == 0), idx)


@query("dedup_ingest_chain_stale", oracle=_ingest_chain_oracle())
def dedup_ingest_chain_stale(spark, sf_dir):
    """The PRODUCTION admit chain — the path stream_ingest_admit
    actually defaults to (rerank=False + scheduled compaction), as a
    bench-headline twin of dedup_ingest_chain, which deliberately
    prices the strict worst case (VERDICT r11 'What's wrong' #2):
    save the base index, classify batch 1 (doc_id % 10 == 5) against
    the loaded (parquet-backed) index, admit its 'new' docs with a
    STALE merge_into_saved_index (O(batch) appends — counts, shingles,
    and the new docs' prefix rows; the keyed digests/df re-aggregate),
    run the scheduled compact_saved_index (cures the prefix drift
    exactly, O(index), no text re-read), then classify batch 2
    (doc_id % 10 == 0) against the compacted index.

    Batch 1 classifies against the in-session build (relation-equal
    to the freshly saved form) rather than the loaded one: the merge
    and compaction REPLACE the saved generations, and a lazily
    evaluated c1 plan over the original files would re-read deleted
    parquet at collect time. Batch 2's load happens after the last
    mutation, so its plan reads stable files.

    Oracle: the SAME chained SQL as the strict chain — valid because
    a compacted index is relation-for-relation equal to a rebuild
    over base + admissions (pinned in tests/test_dedup.py), which is
    in turn equal to the strict merge; so cls2 is identical while the
    per-admission cost is O(batch) instead of the strict re-rank that
    degenerates on saturated vocabularies. The saved index lives in a
    fresh tempdir (removed at interpreter exit — the result plan
    reads its parquet lazily, so it cannot be removed in-query)."""
    import atexit
    import os
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = d.filter(F.col("doc_id") % 10 % 5 != 0)
    b1 = d.filter(F.col("doc_id") % 10 == 5)
    b2 = d.filter(F.col("doc_id") % 10 == 0)

    import concurrent.futures

    tmp = tempfile.mkdtemp(prefix="ingest_chain_stale_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    p = os.path.join(tmp, "bidx")
    idx = build_base_index(base)
    c1 = tracked_persist(ingest_batch(b1, idx))
    # The save and batch 1's classification both depend only on the
    # built index — neither reads the other's output — so they run as
    # concurrent jobs (guide §2.6 'overlap independent jobs'): the
    # save's parquet writes fill the executor tail the classification
    # leaves idle. c1.count() only materializes the persisted verdict
    # relation the merge below would otherwise force serially via its
    # admission guard; the merge then starts with BOTH the saved index
    # and the cached c1 ready.
    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as ex:
        fsave = ex.submit(save_base_index, idx, p)
        fc1 = ex.submit(c1.count)
        fsave.result()
        fc1.result()
    new1 = b1.join(
        c1.filter(F.col("status") == "new").select("doc_id"), "doc_id", "left_semi"
    )
    merge_into_saved_index(spark, p, new1, rerank=False)
    compact_saved_index(spark, p)
    c2 = ingest_batch(b2, load_base_index(spark, p))
    return (
        c1.select(
            F.lit(1).alias("batch_no"), "doc_id", "status", "n_base_matches"
        )
        .unionByName(
            c2.select(
                F.lit(2).alias("batch_no"), "doc_id", "status", "n_base_matches"
            )
        )
        .orderBy("batch_no", "doc_id")
    )
