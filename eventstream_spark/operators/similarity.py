"""Similarity search over embedding columns (north star).

- ``knn_exact``      — brute-force top-k by squared L2 / cosine (the baseline
  and the verification oracle for the approximate paths).
- ``lsh_ann``        — random-hyperplane LSH bucketing: each vector gets a
  signed-projection bit signature; candidates share a bucket; exact cosine
  re-ranks within buckets. The scale path: bucket join shuffles on a
  well-distributed key instead of a global cross join.

The hyperplanes are DERIVED DETERMINISTICALLY from md5 (portable to duckdb
and Python hashlib), so even the approximate path has an exact duckdb oracle.

Scale notes (100 TB): the query side of knn_exact is broadcast (queries are
few); the corpus side never shuffles. For lsh_ann the plane weights are
compile-time literals (no join), signatures are map-side, and the only
shuffle is the bucket self-join; multi-probe or IVF refinements keep bucket
sizes bounded under skew.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast, col, lit

from ..cache import persist_tracked
from ..catalog import load, spread
from ..functions import (
    as_double_array,
    as_double_array_sql,
    cosine,
    cosine_sql,
    dot,
    dot_sql,
    hash48,
    hash48_sql,
    matrix_literal,
    sq_l2,
    sq_l2_sql,
)

_N_PLANES = 6  # 2^6 = 64 buckets

_AUDIT_PANEL = (100, 101, 102)  # the pinned probe queries of the ANN queries and audits

# Fan-out budget for the vectorized-GEMM mapInPandas passes: below this
# many input bytes per core the spread exchange costs more than the
# numpy it parallelizes (see catalog.spread). HOF-lambda passes stay on
# the full fan-out — interpreted per-row work is CPU-dense per byte.
_GEMM_SPREAD_BYTES = 256 << 10


def _h48_py(s: str) -> int:
    """Python twin of functions.hash48 (md5 first 12 hex chars)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def embedding_dim(emb: DataFrame) -> int:
    """Data-derived embedding dimensionality: a one-row driver read at
    plan-build time (bounded, like the IVF/PQ seed collects). Every plane /
    projection / codebook literal sizes itself from THIS, never from a
    fixture constant — a mirrored dim literal lets both engines agree on
    the fixture by construction while silently breaking on any other
    corpus (the q186 bug class; the whole embedding family had it until
    the round-6 re-seeded fixture run surfaced it).

    Empty table fails LOUD (a streaming landing dir that hasn't received
    its first batch otherwise dies with an opaque ``None[0]`` TypeError at
    plan-build, e.g. q132). The one-row probe is cached per logical plan
    (semanticHash) so repeated plane/codebook builds over the same input
    don't each launch a driver job."""
    key = emb.semanticHash()
    if key in _DIM_CACHE:
        return _DIM_CACHE[key]
    row = emb.select(F.size("embedding")).head()
    if row is None:
        raise ValueError(
            "embeddings table is empty — cannot derive embedding dim "
            "(streaming landing dir not yet populated?)"
        )
    _DIM_CACHE[key] = int(row[0])
    return _DIM_CACHE[key]


_DIM_CACHE: dict[int, int] = {}

# semanticHash keys the PLAN, not the data: two identical plans over a
# landing dir whose parquet is replaced with different-dim embeddings in
# one process would read a stale dim. Harnesses already call
# cache.release_cached() at query boundaries — flush the memo there too.
from ..cache import register_memo_clearer as _reg_clear

_reg_clear(_DIM_CACHE.clear)


def plane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim. ``dim``
    must come from :func:`embedding_dim` (data-derived), not a constant;
    the md5 formula here is mirrored verbatim by ``planes_cte_sql`` so the
    duckdb oracle rebuilds the identical matrix in-engine."""
    return [
        [(_h48_py(f"p{j}_{d}") % 2001 - 1000) / 1000.0 for d in range(dim)]
        for j in range(n_planes)
    ]


def auto_planes(n_rows: int, target_occupancy: int = 8) -> int:
    """The bits-grow-with-log2(N) rule as code: the plane count that holds
    expected bucket occupancy at ``target_occupancy`` vectors — the knob a
    100 TB deployment sets from the corpus count at plan build. Measured
    consequence of NOT growing bits: the fixed-6-plane forms (q44/q114)
    run >1 h at 100× on local[32] while the grown-bits twins finish in
    seconds (SCALING.md, SCALE_SMOKE.json). Clamped to [1, 48] (the
    bucket key is a 64-bit long; 48 planes ≫ any realistic corpus)."""
    import math

    if n_rows <= target_occupancy:
        return 1
    return min(48, max(1, math.ceil(math.log2(n_rows / target_occupancy))))


def auto_cells(n_rows: int) -> int:
    """The IVF cell count that grows with the corpus: ceil(sqrt(N)) —
    the classic inverted-file sizing (FAISS guidance is C·sqrt(N)), which
    holds BOTH the per-cell list length and the centroid table at
    ~sqrt(N), so probe cost grows as sqrt(N) instead of N. The q44b/q114b
    grown-bits rule, applied to cells instead of hyperplanes. IEEE sqrt
    is correctly rounded, so ceil(sqrt(n)) is the same integer in
    Python, Spark, and duckdb."""
    import math

    return max(1, math.ceil(math.sqrt(n_rows)))


def auto_probe(n_cells: int) -> int:
    """Probes per query for the grown-cells IVF: ceil(log2(n_cells + 1)),
    floored at 2 — recall is held by probing logarithmically more cells
    as the index grows (candidate work stays ~sqrt(N)·log N). Mirrored in
    SQL by the oracle's params CTE."""
    import math

    return max(2, math.ceil(math.log2(n_cells + 1)))


def planes_cte_sql(n_planes: int) -> str:
    """duckdb CTEs (``dims``, ``planes``) building the SAME deterministic
    hyperplane matrix as :func:`plane_weights`, with the dimensionality
    DERIVED IN SQL from the data (len(embedding) — constant across the
    table). Weight values are bit-identical to the Python/Spark side:
    48-bit md5 ints are exact doubles and /1000.0 rounds identically."""
    return f"""dims AS (SELECT len(embedding) AS nd FROM embeddings LIMIT 1),
planes AS (
  SELECT j, list((CAST('0x' || substr(md5('p' || j || '_' || d), 1, 12)
                       AS BIGINT) % 2001 - 1000) / 1000.0 ORDER BY d) AS w
  FROM (SELECT tj.j, unnest(range(0, nd)) AS d
        FROM range(0, {n_planes}) tj(j), dims)
  GROUP BY j)"""


def lsh_sig_cte_sql(n_planes: int = _N_PLANES) -> str:
    """CTE chain ending in ``s(vec_id, v, bucket)`` — the duckdb twin of
    :func:`lsh_bucketed` (planes data-derived via ``planes_cte_sql``).
    Also leaves ``proj(vec_id, j, pd)`` in scope for multi-probe oracles.
    Shared by the q52/q163/q114 oracles here, the q44/q44b oracles in
    dedup.py, and the q132 streaming-ingest oracle."""
    from ..functions import as_double_array_sql as _ad, dot_sql as _dot

    return f"""{planes_cte_sql(n_planes)},
e AS (SELECT vec_id, {_ad('embedding')} AS v FROM embeddings),
proj AS (SELECT vec_id, j, {_dot('v', 'w')} AS pd FROM e, planes),
bk AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pd >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id),
s AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id))"""


# --- exact k-NN ------------------------------------------------------------

def knn_exact(
    emb: DataFrame, target_vec_id: int, k: int, metric: str = "sq_l2"
) -> DataFrame:
    """Top-k neighbors of one vector. Target side is broadcast; the corpus
    scan is a single map + TakeOrdered — no shuffle of the corpus."""
    e = spread(emb).select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
    target = e.where(col("vec_id") == target_vec_id).select(col("v").alias("t"))
    cand = e.where(col("vec_id") != target_vec_id).crossJoin(broadcast(target))
    if metric == "sq_l2":
        score = F.round(sq_l2(col("v"), col("t")), 4).alias("dist")
        return cand.select("vec_id", score).orderBy("dist", "vec_id").limit(k)
    score = F.round(cosine(col("v"), col("t")), 4).alias("cos")
    return cand.select("vec_id", score).orderBy(col("cos").desc(), "vec_id").limit(k)


def q50_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN of vec_id=1 by squared L2 (SURVEY §2B Q23)."""
    return knn_exact(load(spark, sf_dir, "embeddings"), target_vec_id=1, k=5)


def topk_per_query(emb: DataFrame, query_pred, k: int) -> DataFrame:
    """Brute-force top-k cosine neighbors for a (small, broadcast) query set."""
    e = spread(emb).select(
        col("vec_id"), as_double_array(col("embedding")).alias("v")
    ).withColumn("nsq", dot(col("v"), col("v")))
    q = e.where(query_pred).select(
        col("vec_id").alias("q_id"), col("v").alias("qv"), col("nsq").alias("qnsq")
    )
    w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc(), col("vec_id"))
    return (
        e.crossJoin(broadcast(q))
        .where(col("vec_id") != col("q_id"))
        # Same bit-identical norm factoring as lsh_ann: one fold per pair.
        .select(
            "q_id",
            "vec_id",
            (dot(col("v"), col("qv")) / F.sqrt(col("nsq") * col("qnsq"))).alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("q_id", col("vec_id").alias("neighbor_id"), "rank", F.round("cos_raw", 4).alias("cos"))
        .orderBy("q_id", "rank")
    )


def q51_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return topk_per_query(emb, col("vec_id") < 10, k=5)


# --- hyperplane-LSH ANN ----------------------------------------------------

def _plane_bucket(v: Column, planes: list[list[float]]) -> tuple[Column, Column]:
    """(projections, bucket) of vector column ``v``: the signed projections
    onto ``planes`` and the long bucket id whose bit j is set when
    projection j is non-negative. Plane weights ride as ONE 2-D literal +
    transform (same small-expression-tree trick as _centroid_dists —
    identical projections, cheaper codegen). Shared by the batch index
    build, multi-probe (which also ranks the projections for its flip bit)
    and the q132 streaming ingest."""
    pmat = matrix_literal(planes)
    powers = F.array(*[lit(1 << j) for j in range(len(planes))])
    projections = F.transform(pmat, lambda w: dot(v, w))
    bucket = F.aggregate(
        F.zip_with(projections, powers, lambda d, p: F.when(d >= 0, p).otherwise(lit(0))),
        lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return projections, bucket


def lsh_bucketed(emb: DataFrame, n_planes: int = _N_PLANES) -> DataFrame:
    """(vec_id, v, bucket) — map-side signature (``_plane_bucket``); the
    plane width is the data-derived dim, never a fixture constant."""
    planes = plane_weights(n_planes, embedding_dim(emb))
    e = spread(emb).select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
    _, bucket = _plane_bucket(col("v"), planes)
    # nsq = dot(v, v), precomputed per vector so the pairwise cosine inside
    # the bucket join folds ONE zip (the cross dot) instead of three; the
    # value is bit-identical because cosine = dot / sqrt(nsq_a * nsq_b)
    # keeps the same multiply-then-sqrt tree as functions.cosine.
    return e.withColumn("bucket", bucket).withColumn("nsq", dot(col("v"), col("v")))


def lsh_ann(emb: DataFrame, k: int = 3) -> DataFrame:
    """Approximate top-k cosine neighbors per vector via shared-bucket
    candidates + exact re-rank."""
    # Persist: both self-join sides read the signature table; without this the
    # 6 plane-projection dot products run twice per vector.
    b = persist_tracked(lsh_bucketed(emb))
    a = b.alias("a")
    c = b.alias("c")
    w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc(), col("neighbor_id"))
    return (
        a.join(c, (col("a.bucket") == col("c.bucket")) & (col("a.vec_id") != col("c.vec_id")))
        .select(
            col("a.vec_id").alias("q_id"),
            col("c.vec_id").alias("neighbor_id"),
            (
                dot(col("a.v"), col("c.v"))
                / F.sqrt(col("a.nsq") * col("c.nsq"))
            ).alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("cos_raw", 4).alias("cos"))
        .orderBy("q_id", "rank")
    )


def q52_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_ann(load(spark, sf_dir, "embeddings"), k=3)


def q163_mutual_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MUTUAL nearest neighbors — the bitext-mining /
    embedding-alignment shape (Artetxe & Schwenk, TACL'19): corpus A
    (even vec_ids) against corpus B (odd), candidates share an LSH
    bucket, and a pair survives only when each side is the other's best
    candidate (margin-free mutual-1-NN). The mutual condition is what
    filters hub vectors that are "everyone's neighbor".

    Scale: ONE bucketed A×B join (the q44/q52 candidate plan — no
    all-pairs), cosine computed once per candidate and reused by both
    rank directions (two windows over the same frame, one exchange each);
    the signature table persists so both corpus filters read one pass."""
    return mutual_ann(load(spark, sf_dir, "embeddings"))


def mutual_ann(emb: DataFrame, n_planes: int | None = None) -> DataFrame:
    b = persist_tracked(lsh_bucketed(emb, n_planes or _N_PLANES))
    a = b.where(col("vec_id") % 2 == 0).alias("a")
    c = b.where(col("vec_id") % 2 == 1).alias("c")
    cand = a.join(c, col("a.bucket") == col("c.bucket")).select(
        col("a.vec_id").alias("a_id"),
        col("c.vec_id").alias("b_id"),
        (
            dot(col("a.v"), col("c.v")) / F.sqrt(col("a.nsq") * col("c.nsq"))
        ).alias("cos_raw"),
    )
    wa = Window.partitionBy("a_id").orderBy(col("cos_raw").desc(), "b_id")
    wb = Window.partitionBy("b_id").orderBy(col("cos_raw").desc(), "a_id")
    rk = cand.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rb", F.row_number().over(wb)
    )
    return (
        rk.where((col("ra") == 1) & (col("rb") == 1))
        .select("a_id", "b_id", F.round("cos_raw", 4).alias("cos"))
        .orderBy("a_id")
    )


def q163b_mutual_ann_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q163 with the LSH bits grown to 12 planes (4096 buckets) — the form
    a 100× corpus runs (constant bucket occupancy; same bits-from-log2(N)
    rule as q44b/q114b). On the small fixture recall drops (most buckets
    are singletons) — the standard bits-vs-recall trade, mirrored exactly
    by the oracle."""
    return mutual_ann(load(spark, sf_dir, "embeddings"), n_planes=_GROWN_PLANES)


_JL_K = 16
_JL_INV = (3.0 / _JL_K) ** 0.5  # entries ~U[-1,1]: Var = 1/3, so scale by sqrt(3/k)


def q171_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→16 dims with the
    distance-preservation guarantee MEASURED: project with the same
    deterministic plane family the LSH ops use (scaled to unit per-
    coordinate variance), then report avg/max relative L2 distortion over
    a deterministic pair sample. The dimensionality-reduction preprocessor
    for ANN/clustering at 100 TB — cheaper vectors, bounded distortion
    (ε ~ sqrt(ln n / k)); 16 dims lands ~16% here, the textbook value.

    Determinism: per-pair distortion quantizes to integer micro-units
    before the average (q125 discipline); max is order-free. Scale: the
    projection is a map-side fixed-literal matmul (zero shuffle); the
    measurement joins consecutive vec_ids (equi-join)."""
    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        col("vec_id"), as_double_array(col("embedding")).alias("v")
    )
    pmat = matrix_literal(plane_weights(_JL_K, embedding_dim(emb)))
    p = e.withColumn(
        "pv", F.transform(pmat, lambda w: dot(col("v"), w) * lit(_JL_INV))
    )
    a = p.alias("a")
    b = p.alias("b")
    d_full = F.sqrt(sq_l2(col("a.v"), col("b.v")))
    d_proj = F.sqrt(sq_l2(col("a.pv"), col("b.pv")))
    pairs = (
        a.join(b, col("b.vec_id") == col("a.vec_id") + 1)
        .where(col("a.vec_id") % 10 == 0)
        .select(
            F.round(F.abs(d_proj - d_full) / d_full * lit(1e6))
            .cast("long")
            .alias("dist_micro")
        )
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("dist_micro") / F.count("*") / lit(1e6), 4).alias(
            "avg_distortion"
        ),
        F.round(F.max("dist_micro") / lit(1e6), 4).alias("max_distortion"),
    )


def lsh_multiprobe_ann(emb: DataFrame, k: int = 3, n_planes: int | None = None) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al., VLDB'07): each query vector
    probes its own bucket PLUS the bucket with its lowest-|margin| sign bit
    flipped — the most likely neighbor-holding bucket — roughly doubling
    recall without doubling the table count.

    Scale: the corpus is still stored/bucketed ONCE; only the probe side
    expands ×2 map-side (explode), and the join stays an equi-shuffle on
    the bucket key. A corpus vector owns one bucket, so the two probes can
    never both match it — no duplicate candidates, no DISTINCT.

    ``n_planes`` is the same bucket-occupancy knob as q44/q44b: bits must
    grow with log2(N) for constant per-bucket pair counts; the default 6 is
    the small-corpus oracle-parity form, q114b pins the grown-bits form."""
    planes = plane_weights(n_planes or _N_PLANES, embedding_dim(emb))
    n = len(planes)
    e = spread(emb).select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
    proj, bucket = _plane_bucket(col("v"), planes)
    # argmin |projection|: the struct array_min orders by (margin, j) — the
    # same first-match-on-ties rule as the oracle's CASE chain.
    idxs = F.array(*[lit(j) for j in range(n)])
    flip = F.array_min(
        F.zip_with(proj, idxs, lambda d, j: F.struct(F.abs(d).alias("m"), j.alias("j")))
    )["j"]
    b = persist_tracked(
        e.withColumn("bucket", bucket).withColumn("flip", flip.cast("int"))
    )
    probes = b.select(
        col("vec_id").alias("q_id"),
        col("v").alias("qv"),
        F.explode(
            F.array(
                col("bucket"),
                F.expr("bucket ^ shiftleft(CAST(1 AS BIGINT), flip)"),
            )
        ).alias("probe"),
    )
    c = b.alias("c")
    w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc(), col("neighbor_id"))
    return (
        probes.join(c, (col("probe") == col("c.bucket")) & (col("q_id") != col("c.vec_id")))
        .select(
            "q_id",
            col("c.vec_id").alias("neighbor_id"),
            cosine(col("qv"), col("c.v")).alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("cos_raw", 4).alias("cos"))
        .orderBy("q_id", "rank")
    )


def q114_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_multiprobe_ann(load(spark, sf_dir, "embeddings"), k=3)


_GROWN_PLANES = 12  # 4096 buckets — the 100x-corpus occupancy (same as q44b)


def q114b_multiprobe_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q114's plan at 12 planes (4096 buckets): the grown-bits form a 100x
    corpus runs — bucket occupancy, hence per-query candidate count, stays
    constant when bits grow with log2(N). This is the variant the 100x
    scale smoke measures (the 6-plane form is quadratic by pigeonhole at
    fixed bucket count, like q44 vs q44b)."""
    return lsh_multiprobe_ann(
        load(spark, sf_dir, "embeddings"), k=3, n_planes=_GROWN_PLANES
    )


# --- IVF ANN ---------------------------------------------------------------

_IVF_CELLS = 16
_IVF_PROBE = 2


def _centroid_dists(v: Column, centroids: list[tuple[int, list[float]]]):
    """(dists, cells) columns from ONE 2-D centroid literal + transform —
    a far smaller expression tree than per-centroid fold expressions
    (measured 2× faster end-to-end from the codegen savings alone; the
    matrix itself is one parsed expr, not dim×cells py4j lit calls)."""
    cmat = matrix_literal([cv for _, cv in centroids])
    cells = F.array(*[lit(cid) for cid, _ in centroids])
    return F.transform(cmat, lambda cv: sq_l2(v, cv)), cells


def ivf_assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(vec_id, v, cell): each vector assigned to its nearest centroid by
    squared L2 (ties → smaller cell id). Centroids ride as literals, so
    assignment is pure map work — zero shuffle regardless of corpus size
    (the IVF scale property: the coarse quantizer always fits the
    driver/broadcast)."""
    e = emb.select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
    dists, cells = _centroid_dists(col("v"), centroids)
    best = F.array_min(
        F.zip_with(dists, cells, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
    )
    return e.withColumn("cell", best["c"].cast("long"))


def ivf_ann(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    n_cells: int = _IVF_CELLS,
    n_probe: int = _IVF_PROBE,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into inverted cells, probe
    the ``n_probe`` nearest cells per query, exact re-rank inside them.

    The coarse centroids are the embeddings of the ``n_cells`` LOWEST
    vec_ids — a deterministic seeding (no k-means iterations) so the duckdb
    oracle reproduces the exact same cells; an ordered LIMIT rather than a
    ``vec_id < n`` predicate, so it holds on any id set (sparse, offset,
    resharded), not just dense ids from 0. Swapping in trained centroids
    changes recall, not the plan shape. Collecting them is n_cells × dim
    doubles — driver-trivial at any corpus size.
    """
    seeds = (
        emb.orderBy("vec_id")
        .limit(n_cells)
        .select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    centroids = [(int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)]

    assigned = persist_tracked(ivf_assign(spread(emb), centroids))
    queries = assigned.where(query_pred).select(
        col("vec_id").alias("q_id"), col("v").alias("qv")
    )

    # Probe list per query: the n_probe nearest centroids (again map-side).
    q_dists, q_cells = _centroid_dists(col("qv"), centroids)
    probe_cells = F.slice(
        F.array_sort(
            F.zip_with(q_dists, q_cells, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
        ),
        1,
        n_probe,
    )
    probes = queries.withColumn(
        "cell", F.explode(F.transform(probe_cells, lambda s: s["c"].cast("long")))
    )

    # Candidate join shuffles on cell — the inverted-file lookup.
    w = Window.partitionBy("q_id").orderBy(col("dist_raw"), col("neighbor_id"))
    return (
        probes.join(assigned, "cell")
        .where(col("vec_id") != col("q_id"))
        .select(
            "q_id",
            col("vec_id").alias("neighbor_id"),
            sq_l2(col("v"), col("qv")).alias("dist_raw"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("dist_raw", 4).alias("dist"))
        .orderBy("q_id", "rank")
    )


def q53_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return ivf_ann(emb, col("vec_id").isin(*_AUDIT_PANEL), k=5)


# --- product quantization (PQ) ANN ----------------------------------------

_PQ_M = 8  # subspaces
_PQ_K = 16  # codes per subspace


def pq_seed_codebooks(emb: DataFrame, dsub: int) -> list[list[list[float]]]:
    """codebooks[m][k] = subvector m of seed vector k. Seeds are the
    ``_PQ_K`` lowest vec_ids (ordered LIMIT — no dense-id assumption) —
    deterministic (no k-means training) so the duckdb oracle reproduces the
    exact codebooks; training better codebooks changes recall, not the
    plan. ``dsub`` = data-derived dim // _PQ_M (never a fixture constant).
    Collecting them is K × dim doubles — trivial."""
    seeds = (
        emb.orderBy("vec_id")
        .limit(_PQ_K)
        .select("vec_id", as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    seeds = sorted(seeds, key=lambda r: r.vec_id)
    return [
        [list(r.v[m * dsub : (m + 1) * dsub]) for r in seeds]
        for m in range(_PQ_M)
    ]


def pq_encode(
    emb: DataFrame, codebooks: list[list[list[float]]], dsub: int
) -> DataFrame:
    """(vec_id, v, c0..c{M-1}): each vector's per-subspace nearest-codeword
    ids (ties → smaller code). Codebooks ride as literals, so encoding is
    pure map work — the PQ scale property: the corpus compresses to M small
    ints per vector with zero shuffle, and the codes column set is what a
    100 TB index actually stores (v is kept here only for the fixture-scale
    exact queries)."""
    e = spread(emb).select("vec_id", as_double_array(col("embedding")).alias("v"))
    code_cols = []
    codes = F.array(*[lit(k) for k in range(_PQ_K)])

    # One-arg lambda factory: a default-arg lambda (cv, s=sub) would make
    # pyspark treat the HOF function as binary and bind s to the array index.
    def dist_to(sub):
        return lambda cv: sq_l2(sub, cv)

    for m, cb in enumerate(codebooks):
        cmat = matrix_literal(cb)
        sub = F.slice(col("v"), m * dsub + 1, dsub)
        dists = F.transform(cmat, dist_to(sub))
        best = F.array_min(
            F.zip_with(dists, codes, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
        )
        code_cols.append(best["c"].cast("long").alias(f"c{m}"))
    return e.select("vec_id", "v", *code_cols)


def pq_ann(emb: DataFrame, query_pred, k: int = 5) -> DataFrame:
    """PQ asymmetric-distance ANN: queries build one 16-entry LUT per
    subspace (map-side, codebook literals); every corpus vector's
    approximate distance is the sum of LUT lookups at its stored codes —
    no per-pair vector math at all. The ADC sum is a fixed left-to-right
    chain over subspaces, mirrored exactly in the oracle, so even the
    approximate ranking is bit-reproducible across engines."""
    dsub = embedding_dim(emb) // _PQ_M
    cbs = pq_seed_codebooks(emb, dsub)
    enc = persist_tracked(pq_encode(emb, cbs, dsub))
    q = enc.where(query_pred).select(col("vec_id").alias("q_id"), col("v").alias("qv"))
    def dist_to(sub):
        return lambda cv: sq_l2(sub, cv)

    lut_cols = []
    for m, cb in enumerate(cbs):
        cmat = matrix_literal(cb)
        qsub = F.slice(col("qv"), m * dsub + 1, dsub)
        lut_cols.append(F.transform(cmat, dist_to(qsub)).alias(f"lut{m}"))
    qt = q.select("q_id", *lut_cols)
    adc = None
    for m in range(_PQ_M):
        term = F.element_at(col(f"lut{m}"), (col(f"c{m}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("q_id").orderBy(col("adc_raw"), col("neighbor_id"))
    return (
        enc.crossJoin(broadcast(qt))
        .where(col("vec_id") != col("q_id"))
        .select("q_id", col("vec_id").alias("neighbor_id"), adc.alias("adc_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("adc_raw", 4).alias("adc"))
        .orderBy("q_id", "rank")
    )


def q85_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return pq_ann(emb, col("vec_id").isin(*_AUDIT_PANEL), k=5)


# --- q217: IVF-PQ combined ANN (residual quantization) -----------------------
# The composition FAISS actually ships as its workhorse index (IVFPQ,
# Jégou et al. TPAMI'11): coarse-quantize into inverted cells (q53's
# layer), then PQ-encode each vector's RESIDUAL v − centroid(cell) (q85's
# layer, but over residuals — smaller dynamic range per code, better
# quantization for the same bits), and answer queries by probing the
# n_probe nearest cells with a PER-CELL asymmetric-distance LUT built
# from the query's residual against that cell. Neither q53 (exact
# re-rank inside cells) nor q85 (corpus-wide ADC scan) expresses this:
# IVFPQ's candidate set is cell-bounded AND its distance is code-based.


def q217_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: top-5 neighbors for 3 probe queries by residual-ADC
    over the 2 nearest inverted cells.

    Determinism: coarse centroids are the _IVF_CELLS lowest-vec_id
    embeddings, PQ codebooks the _PQ_K lowest-vec_id RESIDUALS (both
    ordered LIMITs — no dense-id assumption; training changes recall,
    never the plan); all argmins are MIN over (dist, id) structs and all
    distance folds the shared left-to-right sq_l2, so cells, codes, and
    raw ADC are bit-identical to the oracle.

    Scale: assignment/encode are pure map work over centroid/codebook
    literals (zero shuffle); the persisted encoded table is what a
    100 TB index stores (cell + M small ints per vector); the query side
    is a |queries|·n_probe-row broadcast joined against the inverted
    lists on cell — candidate work is cell-bounded, never corpus-wide."""
    emb = load(spark, sf_dir, "embeddings")
    dsub = embedding_dim(emb) // _PQ_M
    seeds = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select("vec_id", as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    centroids = [
        (int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)
    ]
    cmat = matrix_literal([cv for _, cv in centroids])
    idxs = F.array(*[lit(i) for i in range(len(centroids))])

    e = spread(emb).select("vec_id", as_double_array(col("embedding")).alias("v"))
    dists = F.transform(cmat, lambda cv: sq_l2(col("v"), cv))
    best = F.array_min(
        F.zip_with(dists, idxs, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    assigned = persist_tracked(
        e.withColumn("ci", best["i"].cast("int")).withColumn(
            "rv",
            F.zip_with(
                col("v"),
                F.element_at(cmat, col("ci") + 1),
                lambda a, b: a - b,
            ),
        )
    )

    # Residual codebooks: the _PQ_K lowest-vec_id residuals, computed by
    # the SAME assignment expressions (collect is K x dim doubles).
    sres = sorted(
        assigned.orderBy("vec_id").limit(_PQ_K).select("vec_id", "rv").collect(),
        key=lambda r: r.vec_id,
    )
    cbs = [
        [list(r.rv[m * dsub : (m + 1) * dsub]) for r in sres]
        for m in range(_PQ_M)
    ]

    def dist_to(sub):
        return lambda cv: sq_l2(sub, cv)

    codes = F.array(*[lit(k) for k in range(_PQ_K)])
    code_cols = []
    for m, cb in enumerate(cbs):
        cm = matrix_literal(cb)
        sub = F.slice(col("rv"), m * dsub + 1, dsub)
        dm = F.transform(cm, dist_to(sub))
        bc = F.array_min(
            F.zip_with(dm, codes, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
        )
        code_cols.append(bc["c"].cast("long").alias(f"c{m}"))
    enc = assigned.select("vec_id", "ci", *code_cols)

    q = _panel(assigned, "v", "qv")
    q_dists = F.transform(cmat, lambda cv: sq_l2(col("qv"), cv))
    probe = F.slice(
        F.array_sort(
            F.zip_with(
                q_dists, idxs, lambda d, i: F.struct(d.alias("d"), i.alias("i"))
            )
        ),
        1,
        _IVF_PROBE,
    )
    probes = q.withColumn(
        "ci", F.explode(F.transform(probe, lambda s: s["i"].cast("int")))
    ).withColumn(
        "qr",
        F.zip_with(col("qv"), F.element_at(cmat, col("ci") + 1), lambda a, b: a - b),
    )
    lut_cols = [
        F.transform(
            matrix_literal(cb), dist_to(F.slice(col("qr"), m * dsub + 1, dsub))
        ).alias(f"lut{m}")
        for m, cb in enumerate(cbs)
    ]
    qt = probes.select("q_id", "ci", *lut_cols)

    adc = None
    for m in range(_PQ_M):
        term = F.element_at(col(f"lut{m}"), (col(f"c{m}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("q_id").orderBy(col("adc_raw"), col("neighbor_id"))
    return (
        enc.join(broadcast(qt), "ci")
        .where(col("vec_id") != col("q_id"))
        .select("q_id", col("vec_id").alias("neighbor_id"), adc.alias("adc_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
        .select("q_id", "neighbor_id", "rank", F.round("adc_raw", 4).alias("adc"))
        .orderBy("q_id", "rank")
    )


def q217b_ivfpq_ann_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q217 with the IVF geometry GROWN from the corpus count — the form a
    100 TB index actually deploys: n_cells = auto_cells(N) = ceil(sqrt(N))
    and n_probe = auto_probe(n_cells) (log growth), so per-cell list
    length, centroid table, and per-query candidate work all stay
    ~sqrt(N) as the corpus scales (the q44b/q114b grown-knob convention;
    q217's fixed 16 cells is the small-corpus oracle-parity form whose
    occupancy — and with it candidate count — grows linearly, the
    documented pigeonhole).

    Two design changes vs q217, both scale-driven. (1) QUANTIZED EXACT
    ARITHMETIC: elements milli-quantize via the knife-proof
    FLOOR(x·1000+0.5); every distance (assignment, encode, LUT, ADC) is
    then an exact INTEGER, so argmins are tie-stable across engines with
    no IEEE fold mirroring at all — and because every intermediate
    (per-term ≤ 1.6e7, per-vector sums ≤ ~4e9) sits far below 2^53,
    float64 BLAS computes those integers EXACTLY, which unlocks (2) the
    q51b/q212 GEMM pattern: assignment and encode run as ONE numpy
    matmul per Arrow batch (||x||² − 2XCᵀ + ||c||², centroid/codebook
    matrices in the closure) instead of sqrt(N) higher-order-function
    distance evaluations per row — the measured difference is the 100×
    smoke dropping from 140.9× (HOF-per-pair spelling, rejected) to the
    recorded row. Assignment work is N·sqrt(N) MACs — the known IVF
    build cost FAISS also pays via BLAS. Codebooks stay _PQ_K=16 (PQ
    codebook size is a bits-per-code choice, not a corpus-size knob).
    Query side is |q|·n_probe driver-side numpy on collected vectors —
    K·dim/sqrt(N)·dim bounded collects; candidates stay cell-bounded.
    Cell ids ARE seed vec_ids (the oracle's labeling); ADC displays as
    milli²-descaled ROUND(adc/1e6, 4), same integer both engines."""
    assigned, enc, qt, _ = _ivfpq_grown_index(spark, sf_dir)
    return _ivfpq_adc_topk(enc, qt)


def _seed_matrix(seeds, quantize: bool):
    """cell_ids (ascending) + centroid matrix + row square-norms from a
    sorted [(vec_id, vector)] seed list; milli-quantized to exact integer
    values when ``quantize``."""
    import numpy as np

    cell_ids = np.array([cid for cid, _ in seeds], dtype=np.int64)
    C = np.asarray([cv for _, cv in seeds], dtype=np.float64)
    if quantize:
        C = np.floor(C * 1000.0 + 0.5)
    return cell_ids, C, (C * C).sum(axis=1)


def _gemm_assign(
    df: DataFrame,
    cell_ids,
    C,
    c_sq,
    vec_col: str,
    payload: str,
    quantize_input: bool,
) -> DataFrame:
    """(vec_id, cell, <payload>): nearest-seed assignment as ONE numpy GEMM
    per Arrow batch — the shared spelling of the q217b/q227/q229/q237
    assignment block (round-9 ADVICE: metric/tiebreak fixes land in one
    place). Exact: all terms integer-valued and < 2^53, BLAS-exact; ties
    resolve to the smallest cell id because cell_ids ascend and argmin
    returns the first minimum. payload: 'd' (integer squared distance),
    'residual' (X - C[assigned], array<double>), or 'vector' (input
    vector passthrough, array<long>)."""
    import numpy as np
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if quantize_input:
                X = np.floor(X * 1000.0 + 0.5)
            D = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
            ci = D.argmin(axis=1)
            out = {"vec_id": pdf["vec_id"].to_numpy(), "cell": cell_ids[ci]}
            if payload == "d":
                out["d"] = D.min(axis=1).astype(np.int64)
            elif payload == "residual":
                out["rv"] = list(X - C[ci])
            else:  # 'vector'
                out["rv"] = pdf[vec_col]
            yield pd.DataFrame(out)

    schema = {
        "d": "vec_id long, cell long, d long",
        "residual": "vec_id long, cell long, rv array<double>",
        "vector": "vec_id long, cell long, rv array<long>",
    }[payload]
    return df.mapInPandas(assign, schema=schema)


def _ivfpq_grown_index(spark: SparkSession, sf_dir: str):
    """(assigned, enc, qt, qrows) — the grown-geometry quantized IVF-PQ
    index build shared by q217b (ADC ranking) and q222 (recall audit):
    assigned(vec_id, cell, rv), enc(vec_id, cell, c0..cM), the query-side
    LUT table qt(q_id, cell, lut0..lutM), and qrows — the collected
    [(q_id, raw vector)] query panel, so consumers that need the query
    vectors again (q222's exact side) build a local relation instead of
    paying another corpus scan + filter (round 13, guide §1.2). See
    q217b's docstring for the design."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    dsub = dim // _PQ_M
    e = spread(emb, _GEMM_SPREAD_BYTES).select("vec_id", as_double_array(col("embedding")).alias("v"))
    # Setup probes run against the PLAIN scan, not the spread fan-out: each
    # is a driver-side bounded collect whose dominant cost on a small input
    # is the round-robin exchange + 32-task schedule the spread inserts
    # (measured ~0.2 s vs ~0.07 s per job at sf0.1); the fan-out only pays
    # off for the per-row GEMM/HOF passes below. Row sets are identical.
    ep = emb.select("vec_id", as_double_array(col("embedding")).alias("v"))
    n = emb.count()
    n_cells = auto_cells(n)
    n_probe = auto_probe(n_cells)

    def quant(mat) -> "np.ndarray":
        return np.floor(np.asarray(mat, dtype=np.float64) * 1000.0 + 0.5)

    seeds = sorted(
        (int(r.vec_id), list(r.v))
        for r in ep.orderBy("vec_id").limit(n_cells).collect()
    )
    cell_ids, C, c_sq = _seed_matrix(seeds, quantize=True)

    assigned = persist_tracked(
        _gemm_assign(e, cell_ids, C, c_sq, "v", "residual", quantize_input=True)
    )

    sres = sorted(
        assigned.orderBy("vec_id").limit(_PQ_K).select("vec_id", "rv").collect(),
        key=lambda r: r.vec_id,
    )
    S = np.asarray([list(r.rv) for r in sres], dtype=np.float64)  # K × dim
    cbs = [S[:, m * dsub : (m + 1) * dsub] for m in range(_PQ_M)]
    cb_sq = [(cb * cb).sum(axis=1) for cb in cbs]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            R = np.asarray(pdf["rv"].tolist(), dtype=np.float64)
            out = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
            }
            for m in range(_PQ_M):
                sub = R[:, m * dsub : (m + 1) * dsub]
                D = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ cbs[m].T)
                    + cb_sq[m][None, :]
                )
                out[f"c{m}"] = D.argmin(axis=1).astype(np.int64)
            yield pd.DataFrame(out)

    enc_schema = "vec_id long, cell long, " + ", ".join(
        f"c{m} long" for m in range(_PQ_M)
    )
    enc = assigned.mapInPandas(encode, schema=enc_schema)

    # Query side: |q| vectors × n_probe cells — driver-side numpy on
    # bounded collects (the prefix-offset scalar class).
    qrows = sorted(
        (int(r.vec_id), list(r.v))
        for r in ep.where(col("vec_id").isin(*_AUDIT_PANEL)).collect()
    )
    qt_rows = []
    for q_id, qv in qrows:
        x = quant([qv])[0]
        dq = (x * x).sum() - 2.0 * (C @ x) + c_sq
        order = np.lexsort((cell_ids, dq))[:n_probe]
        for ci in order:
            qr = x - C[ci]
            luts = []
            for m in range(_PQ_M):
                sub = qr[m * dsub : (m + 1) * dsub]
                dl = (sub * sub).sum() - 2.0 * (cbs[m] @ sub) + cb_sq[m]
                luts.append([int(v) for v in dl])
            qt_rows.append((q_id, int(cell_ids[ci]), *luts))
    qt_schema = "q_id long, cell long, " + ", ".join(
        f"lut{m} array<long>" for m in range(_PQ_M)
    )
    qt = spark.createDataFrame(qt_rows, qt_schema)
    return assigned, enc, qt, qrows


def _ivfpq_adc_topk(enc: DataFrame, qt: DataFrame, k: int = 5) -> DataFrame:
    adc = None
    for m in range(_PQ_M):
        term = F.element_at(col(f"lut{m}"), (col(f"c{m}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    w = Window.partitionBy("q_id").orderBy(col("adc_raw"), col("neighbor_id"))
    return (
        enc.join(broadcast(qt), "cell")
        .where(col("vec_id") != col("q_id"))
        .select("q_id", col("vec_id").alias("neighbor_id"), adc.alias("adc_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "rank",
            F.round(col("adc_raw") / lit(1e6), 4).alias("adc"),
        )
        .orderBy("q_id", "rank")
    )


# --- recall audits ---------------------------------------------------------
# q222/q227/q238/q240/q242 each score an index against the exact top-5 of
# one pinned query panel; the ground truth and the scoring live here once.

def _milli(v: Column) -> Column:
    """Elementwise FLOOR(x·1000+0.5) as bigint: the milli-quantized space
    where every squared distance is an exact, tie-stable integer."""
    return F.transform(v, lambda x: F.floor(x * 1000 + lit(0.5)).cast("long"))


def _panel(e: DataFrame, vec: str, qvec: str) -> DataFrame:
    """(q_id, <qvec>): the audit panel's rows of ``e``."""
    return e.where(col("vec_id").isin(*_AUDIT_PANEL)).select(
        col("vec_id").alias("q_id"), col(vec).alias(qvec)
    )


def _exact_topk(e: DataFrame, q: DataFrame, vec: str, qvec: str, k: int = 5) -> DataFrame:
    """(q_id, neighbor_id): the persisted exact top-k by squared L2 of each
    panel query in ``q`` over the corpus ``e`` (self excluded, ties to the
    smaller vec_id) — the q51 broadcast-query shape. ``vec``/``qvec`` name
    the vector columns: q238 ranks in float space, the others in the
    milli-quantized space of the index they audit."""
    w = Window.partitionBy("q_id").orderBy(col("d"), col("neighbor_id"))
    return persist_tracked(
        e.crossJoin(broadcast(q))
        .where(col("vec_id") != col("q_id"))
        .select(
            "q_id",
            col("vec_id").alias("neighbor_id"),
            sq_l2(col(vec), col(qvec)).alias("d"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(col("rank") <= k)
        .select("q_id", "neighbor_id")
    )


def _recall_rows(
    panel: DataFrame,
    hits: DataFrame,
    cand_hits: DataFrame | None = None,
    variant: str | None = None,
) -> DataFrame:
    """One recall@5 row per panel query. ``hits`` holds the exact top-5
    rows (q_id, neighbor_id) the index returned → ``n_hits``,
    ``recall_at_5``; ``cand_hits`` (two-layer audits) the ones its probed
    cells admitted → ``n_cand_hits``, ``cand_recall``, placed first;
    ``variant`` leads with a literal label. A query with no hits scores 0
    and keeps its row: the query an index misses entirely is the one the
    audit exists to show."""
    out = panel.select("q_id")
    cols = [lit(variant).alias("variant")] if variant else []
    cols.append(col("q_id"))
    for name, h, n_col, r_col in (
        ("ch", cand_hits, "n_cand_hits", "cand_recall"),
        ("h", hits, "n_hits", "recall_at_5"),
    ):
        if h is None:
            continue
        out = out.join(h.groupBy("q_id").agg(F.count("*").alias(name)), "q_id", "left")
        n = F.coalesce(col(name), lit(0))
        cols += [n.cast("long").alias(n_col), F.round(n / lit(5.0), 4).alias(r_col)]
    return out.select(*cols)


def q222_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-layer recall@5 audit of the deployable IVF-PQ index (q217b)
    against exact 5-NN — the acceptance measurement every production ANN
    deployment runs before trusting an index, split the way FAISS tuning
    splits it: CANDIDATE recall (did the n_probe probed cells even admit
    the true neighbors — the IVF layer's ceiling, the cells/probes knob)
    vs END-TO-END recall (did ADC over the PQ codes rank them into the
    top-5 — the codebook-bits knob). Ground truth is exact squared L2 in
    the SAME milli-quantized space the index encodes, so distances are
    exact integers (tie-stable cross-engine) and the numbers isolate
    index error, not metric drift.

    Scale: index internals shared with q217b (one build); the exact side
    is a |queries|-row broadcast against one corpus scan with a
    |queries|-partition window (the q51 small-query-set shape); the
    audit joins are ≤ 5·|queries| rows a side against the (vec_id, cell)
    assignment and the n_probe·|queries| probe pairs. The query panel
    itself is a LOCAL relation built from the index's already-collected
    query vectors (round 13, guide §1.2: the former shape re-scanned +
    filtered the corpus twice more for vectors the build had already
    pulled to the driver) — milli-quantized with the same
    FLOOR(x·1000+0.5) float64 op the column expression applies, so the
    rows are identical."""
    import numpy as np

    assigned, enc, qt, qrows = _ivfpq_grown_index(spark, sf_dir)
    approx = _ivfpq_adc_topk(enc, qt).select("q_id", "neighbor_id")
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", _milli(as_double_array(col("embedding"))).alias("xm")
    )
    q = spark.createDataFrame(
        [
            (q_id, [int(v) for v in np.floor(np.asarray(qv, dtype=np.float64) * 1000.0 + 0.5)])
            for q_id, qv in qrows
        ],
        "q_id long, qm array<bigint>",
    )
    exact = _exact_topk(e, q, "xm", "qm")
    probe_pairs = qt.select("q_id", "cell").distinct()
    asn = assigned.select(col("vec_id").alias("neighbor_id"), "cell")
    return _recall_rows(
        q,
        exact.join(approx, ["q_id", "neighbor_id"]),
        exact.join(asn, "neighbor_id").join(broadcast(probe_pairs), ["q_id", "cell"]),
    ).orderBy("q_id")


# Oracle twins of the recall-audit helpers above, kept as separate SQL
# text: the milli corpus, the grown geometry, the panel ``qs``, its probed
# cells, the exact top-5 ``ex`` and the recall rows over hit-count CTEs
# (q_id, h).

def _milli_sql() -> str:
    return f"""SELECT vec_id,
         list_transform({as_double_array_sql('embedding')},
                        x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS xm
  FROM embeddings"""


def _grown_params_sql(src: str) -> str:
    """n_cells/n_probe from COUNT(*) — the exact integer twins of
    auto_cells/auto_probe (IEEE sqrt/log2 are correctly rounded in both
    engines)."""
    return f"""
  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS n_cells,
         GREATEST(2, CAST(CEIL(LOG2(CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) + 1))
                          AS BIGINT)) AS n_probe
  FROM {src}"""


def _panel_sql(src: str, vec: str, qvec: str) -> str:
    return f"SELECT vec_id AS q_id, {vec} AS {qvec} FROM {src} WHERE vec_id IN {_AUDIT_PANEL}"


def _exact_topk_sql(src: str, vec: str, qvec: str, panel: str = "qs") -> str:
    return f"""
  SELECT q_id, neighbor_id FROM (
    SELECT q.q_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY {sq_l2_sql(f'c.{vec}', f'q.{qvec}')}, c.vec_id) AS rank
    FROM {src} c, {panel} q WHERE c.vec_id <> q.q_id) t
  WHERE rank <= 5"""


def _probes_sql(cents: str, qvec: str, cvec: str, n_probe: int | str) -> str:
    """(q_id, cell): each panel query's ``n_probe`` nearest cells of
    ``cents`` (cell, <cvec>), ties to the smaller cell id."""
    return f"""
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY {sq_l2_sql(f'q.{qvec}', f'c.{cvec}')}, c.cell) AS pr
    FROM qs q, {cents} c) t
  WHERE pr <= {n_probe}"""


def _hits_sql(approx: str) -> str:
    """Exact top-5 rows of ``ex`` that the index answer ``approx`` holds."""
    return f"""SELECT ex.q_id, COUNT(*) AS h
       FROM ex JOIN {approx} USING (q_id, neighbor_id) GROUP BY ex.q_id"""


def _cand_hits_sql(asn: str, probes: str) -> str:
    """Exact top-5 rows of ``ex`` whose neighbor's cell (``asn``: vec_id,
    cell) is one of the query's probed cells (``probes``: q_id, cell)."""
    return f"""SELECT ex.q_id, COUNT(*) AS h
       FROM ex JOIN {asn} a ON a.vec_id = ex.neighbor_id
       JOIN {probes} p ON p.q_id = ex.q_id AND p.cell = a.cell
       GROUP BY ex.q_id"""


def _recall_rows_sql(
    hits: str, cand_hits: str | None = None, variant: str | None = None
) -> str:
    """One recall@5 row per panel query from the hit-count CTEs; a query
    without hits scores 0 (the LEFT JOIN + COALESCE)."""
    cols = [f"'{variant}' AS variant"] if variant else []
    cols.append("q.q_id")
    joins = ""
    for cte, n_col, r_col in (
        (cand_hits, "n_cand_hits", "cand_recall"),
        (hits, "n_hits", "recall_at_5"),
    ):
        if cte:
            cols += [
                f"CAST(COALESCE({cte}.h, 0) AS BIGINT) AS {n_col}",
                f"ROUND(COALESCE({cte}.h, 0) / 5.0, 4) AS {r_col}",
            ]
            joins += f" LEFT JOIN {cte} USING (q_id)"
    return f"SELECT {', '.join(cols)}\nFROM qs q{joins}"


def _variant_recall_sql(seeded: str, trained: str) -> str:
    """The seeded-vs-trained audits' final SELECT over two hit CTEs."""
    return f"""SELECT * FROM (
{_recall_rows_sql(seeded, variant='seeded')}
UNION ALL
{_recall_rows_sql(trained, variant='trained')}) u
ORDER BY variant, q_id"""


def _ann_recall_sql() -> str:
    # The nested grown-IVF-PQ block gets its evaluate-once pins APPLIED
    # BEFORE nesting: the anchored materialize_ctes rewrite only touches
    # depth-0 WITH-list entries, so the outer pass (this oracle is in the
    # module's _mat list) cannot reach the inner WITH.
    from ..functions import materialize_ctes as _m

    return f"""
WITH a AS (SELECT q_id, neighbor_id FROM ({_m(_ivfpq_grown_sql())})),
e AS ({_milli_sql()}),
params AS ({_grown_params_sql('e')}),
cents AS (
  SELECT vec_id AS cell, xm AS cm
  FROM (SELECT vec_id, xm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
  CROSS JOIN params WHERE rn <= n_cells),
asn AS (
  SELECT e.vec_id, MIN({{'d': {sq_l2_sql('e.xm', 'c.cm')}, 'c': c.cell}})['c'] AS cell
  FROM e, cents c GROUP BY e.vec_id),
qs AS ({_panel_sql('e', 'xm', 'qm')}),
probes AS ({_probes_sql('cents', 'qm', 'cm', '(SELECT n_probe FROM params)')}),
ex AS ({_exact_topk_sql('e', 'xm', 'qm')}),
ch AS ({_cand_hits_sql('asn', 'probes')}),
h AS ({_hits_sql('a')})
{_recall_rows_sql('h', 'ch')} ORDER BY q_id
"""


def kmeans_step(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """One Lloyd iteration: assign every vector to its nearest centroid
    (map-side, centroid literals) and emit the new centroids in long form
    (cell, dim, member count, mean). The building block for iterative
    clustering: a driver loop collects the output, re-literalizes, and
    repeats — each iteration is one shuffle (the groupBy), which is the
    canonical distributed k-means plan.
    """
    assigned = ivf_assign(emb, centroids)
    pos = assigned.select(
        "cell", F.posexplode(col("v")).alias("i0", "x")
    ).withColumn("i", (col("i0") + 1).cast("long"))
    return (
        pos.groupBy("cell", "i")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("x"), 4).alias("mean_x"),
        )
        .orderBy("cell", "i")
    )


def q59_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes) in long form:
    (label, dim index, member count, mean component). posexplode → one
    groupBy(label, i) shuffle; at 100 TB the group count is labels × dim —
    tiny — so partial aggregation absorbs the volume map-side.

    Like q54, the scan is deliberately NOT spread: AVG folds doubles, and
    keeping the source order matches the oracle's fold (the round-4 output
    absorbs ulp noise at this n regardless)."""
    emb = load(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label", F.posexplode(as_double_array(col("embedding"))).alias("i0", "x")
    ).withColumn("i", (col("i0") + 1).cast("long"))
    return (
        pos.groupBy("label", "i")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("x"), 4).alias("mean_x"),
        )
        .orderBy("label", "i")
    )


def q69_doc_vec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: documents ⋈ embeddings (doc_id = vec_id) — text
    stats joined to vector norms per source. The norm is a per-row fold
    (mirrored in the oracle); AVGs round to absorb ulp noise."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    norms = emb.select(
        col("vec_id"),
        F.sqrt(dot(as_double_array(col("embedding")), as_double_array(col("embedding")))).alias("nrm"),
    )
    return (
        docs.join(norms, docs.doc_id == norms.vec_id)
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("source")
    )


def q54_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    centroids = [(int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)]
    return kmeans_step(emb, centroids)


def kmeans_iterate(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int,
) -> list[tuple[int, list[float]]]:
    """Driver-coordinated Lloyd iterations: each round runs ``kmeans_step``
    (one shuffle), collects the new centroid table (n_cells × dim doubles —
    driver-trivial, same bound as the seed fetch), and re-literalizes it for
    the next map-side assignment. Centroid components are rounded to 4
    decimals INSIDE kmeans_step, so the handoff values are reproducible
    across engines and partitionings — the property that lets an iterative
    algorithm carry an exact differential oracle. Cells that lose all
    members drop out (standard Lloyd behavior)."""
    for _ in range(iters):
        rows = kmeans_step(emb, centroids).collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r.cell), {})[int(r.i)] = float(r.mean_x)
        centroids = [
            (cell, [dims[i] for i in sorted(dims)])
            for cell, dims in sorted(by_cell.items())
        ]
    return centroids


def q54b_kmeans_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO Lloyd rounds (q54 is one): seeds → assign+mean → re-literalize →
    assign+mean again. The unrolled-CTE oracle mirrors both rounds; the
    rounded centroid handoff keeps every float either engine sees
    bit-identical."""
    emb = load(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    centroids = [(int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)]
    return kmeans_step(emb, kmeans_iterate(emb, centroids, iters=1))


def q238_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer TRAINING payoff, measured: candidate recall@5 of
    the q53 IVF layout (16 cells, 2 probes, pinned queries) under the
    deterministic lowest-vec_id seeding VS the same layout after two
    Lloyd rounds (kmeans_iterate — the q54b rounded-handoff convention,
    which is what makes a trained index oracle-able at all). Every IVF
    index in the repo (q53/q217/q217b/q227/q229/q237) seeds rather than
    trains, trading recall for oracle determinism; this is the index-
    quality rung a production 100 TB vector store runs before committing
    to a quantizer — (variant, query) recall rows, trained vs seeded,
    against the exact ground truth.

    Candidate recall IS end-to-end recall for plain IVF (in-cell re-rank
    is exact), so the one number isolates the quantizer. Scale: training
    is iters x one-shuffle Lloyd steps (canonical distributed k-means,
    dim-bounded driver handoff); both assignments are map-side GEMM-shape
    against centroid literals; the exact side is the q51 broadcast-query
    shape; audit joins are <= 5*|queries| rows a side. Stays out of the
    bench headline: it re-runs q54b's training as a sub-stage (the
    q162/q173 double-count convention)."""
    emb = load(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select("vec_id", as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    c_seed = [(int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)]
    c_train = kmeans_iterate(emb, c_seed, iters=2)
    e = persist_tracked(
        spread(emb).select("vec_id", as_double_array(col("embedding")).alias("v"))
    )
    q = _panel(e, "v", "qv")
    exact = _exact_topk(e, q, "v", "qv")
    parts = []
    for variant, cents in (("seeded", c_seed), ("trained", c_train)):
        dists, cells = _centroid_dists(col("v"), cents)
        best = F.array_min(
            F.zip_with(dists, cells, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
        )
        asn = e.select(
            col("vec_id").alias("neighbor_id"), best["c"].cast("long").alias("cell")
        )
        qd, qc = _centroid_dists(col("qv"), cents)
        probe_cells = F.slice(
            F.array_sort(
                F.zip_with(qd, qc, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
            ),
            1,
            _IVF_PROBE,
        )
        probes = q.select(
            "q_id",
            F.explode(
                F.transform(probe_cells, lambda s: s["c"].cast("long"))
            ).alias("cell"),
        )
        hits = exact.join(asn, "neighbor_id").join(broadcast(probes), ["q_id", "cell"])
        parts.append(_recall_rows(q, hits, variant=variant))
    return parts[0].unionByName(parts[1]).orderBy("variant", "q_id")


def q240_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q238's question asked of the PQ layer: ADC recall@5 of a flat
    product-quantized index under the SEEDED codebooks (subvectors of
    the _PQ_K lowest vec_ids — q85's determinism trade) vs after ONE
    Lloyd round per subspace, against the exact 5-NN ground truth.
    Everything runs in the milli-quantized integer metric (q217b/q222
    convention), and the trained codeword means re-quantize to integers
    (FLOOR(sum/count + 0.5) — one double division both engines compute
    identically), so every assignment argmin, LUT entry, ADC sum, and
    rank boundary is an exact integer: a TRAINED codebook stays
    oracle-able, which is the point (q54b's rounded handoff applied to
    the PQ training loop).

    Scale: training is ONE extra encode pass + one (subspace, code, dim)
    groupBy whose group count is M*K*dsub = dim*K — dimension-bounded,
    as is the collected codebook handoff; encode passes are numpy-GEMM
    mapInPandas (the q217b shape); ADC is the q85 broadcast-LUT plan.
    Oracle-gated, not headlined: it re-runs q85's encode shape twice
    plus a training pass (the q162/q173 double-count convention)."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    dsub = dim // _PQ_M
    e = persist_tracked(
        spread(emb).select("vec_id", _milli(as_double_array(col("embedding"))).alias("xm"))
    )
    srows = sorted(
        (int(r.vec_id), list(r.xm))
        for r in e.orderBy("vec_id").limit(_PQ_K).collect()
    )
    S0 = np.asarray([v for _, v in srows], dtype=np.float64)
    cb0 = [
        (np.arange(_PQ_K, dtype=np.int64), S0[:, m * dsub : (m + 1) * dsub])
        for m in range(_PQ_M)
    ]

    def make_encode(cbs):
        mats = [(ids, M, (M * M).sum(axis=1)) for ids, M in cbs]

        def encode(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.asarray(pdf["xm"].tolist(), dtype=np.float64)
                out = {"vec_id": pdf["vec_id"].to_numpy()}
                for m, (ids, M, msq) in enumerate(mats):
                    sub = X[:, m * dsub : (m + 1) * dsub]
                    D = (
                        (sub * sub).sum(axis=1)[:, None]
                        - 2.0 * (sub @ M.T)
                        + msq[None, :]
                    )
                    # ids ascend: argmin's first minimum = smallest code
                    out[f"c{m}"] = ids[D.argmin(axis=1)]
                yield pd.DataFrame(out)

        return encode

    enc_schema = "vec_id long, " + ", ".join(f"c{m} long" for m in range(_PQ_M))
    codes0 = persist_tracked(e.mapInPandas(make_encode(cb0), schema=enc_schema))

    # ONE Lloyd round per subspace: per-(code, dim) integer-rounded means
    # of the members codes0 assigned. Group count = dim * K — the
    # dimension-bounded collect convention.
    carr = F.array(*[col(f"c{m}") for m in range(_PQ_M)])
    tr = (
        codes0.join(e, "vec_id")
        .select(carr.alias("cs"), F.posexplode("xm").alias("i0", "x"))
        .select(
            "i0",
            "x",
            F.element_at(
                "cs", (F.floor(col("i0") / lit(dsub)) + 1).cast("int")
            ).alias("k"),
        )
        .groupBy("k", "i0")
        .agg(
            F.floor(F.sum("x") / F.count("*") + lit(0.5))
            .cast("long")
            .alias("v")
        )
        .collect()
    )
    by_mk: dict[tuple[int, int], dict[int, int]] = {}
    for r in tr:
        m = int(r.i0) // dsub
        by_mk.setdefault((m, int(r.k)), {})[int(r.i0)] = int(r.v)
    cb1 = []
    for m in range(_PQ_M):
        ids = sorted(k for (mm, k) in by_mk if mm == m)
        mat = np.asarray(
            [[by_mk[(m, k)][i] for i in sorted(by_mk[(m, k)])] for k in ids],
            dtype=np.float64,
        )
        cb1.append((np.asarray(ids, dtype=np.int64), mat))
    codes1 = e.mapInPandas(make_encode(cb1), schema=enc_schema)

    q = _panel(e, "xm", "qm")
    qrows = sorted((int(r.q_id), list(r.qm)) for r in q.collect())

    def lut_table(cbs):
        rows = []
        for q_id, qm in qrows:
            x = np.asarray(qm, dtype=np.float64)
            luts = []
            for m, (ids, M) in enumerate(cbs):
                sub = x[m * dsub : (m + 1) * dsub]
                d = ((M - sub[None, :]) ** 2).sum(axis=1)
                arr = [0] * _PQ_K  # dropped codes never referenced
                for j, k in enumerate(ids):
                    arr[int(k)] = int(d[j])
                luts.append(arr)
            rows.append((q_id, *luts))
        schema = "q_id long, " + ", ".join(
            f"lut{m} array<long>" for m in range(_PQ_M)
        )
        return spark.createDataFrame(rows, schema)

    exact = _exact_topk(e, q, "xm", "qm")
    parts = []
    for variant, codes, cbs in (("seeded", codes0, cb0), ("trained", codes1, cb1)):
        adc = None
        for m in range(_PQ_M):
            term = F.element_at(col(f"lut{m}"), (col(f"c{m}") + 1).cast("int"))
            adc = term if adc is None else adc + term
        wa = Window.partitionBy("q_id").orderBy(col("adc"), col("neighbor_id"))
        approx = (
            codes.crossJoin(broadcast(lut_table(cbs)))
            .where(col("vec_id") != col("q_id"))
            .select(
                "q_id", col("vec_id").alias("neighbor_id"), adc.alias("adc")
            )
            .withColumn("rank", F.row_number().over(wa))
            .where(col("rank") <= 5)
            .select("q_id", "neighbor_id")
        )
        hits = exact.join(approx, ["q_id", "neighbor_id"])
        parts.append(_recall_rows(q, hits, variant=variant))
    return parts[0].unionByName(parts[1]).orderBy("variant", "q_id")


def _lloyd_milli(e: DataFrame, cell_ids, C, c_sq, iters: int):
    """Integer-milli Lloyd rounds on a grown geometry: per round, one
    map-side GEMM assignment (_gemm_assign — the q217b spelling) and one
    (cell, dim) groupBy whose group count is n_cells × dim = sqrt(N) × dim
    (the seed-fetch collect bound). Centroid handoff is the q240
    convention — FLOOR(sum/count + 0.5) on exact integer sums < 2^53, one
    double division both engines compute identically — so the trained
    centroids stay exact integers and every downstream argmin/probe rank
    is tie-stable cross-engine. Cells that lose all members drop out
    (standard Lloyd; ids stay ascending, preserving first-min ties)."""
    import numpy as np

    for _ in range(iters):
        asn = _gemm_assign(
            e, cell_ids, C, c_sq, "xm", "vector", quantize_input=False
        )
        rows = (
            asn.select("cell", F.posexplode("rv").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(
                F.floor(F.sum("x") / F.count("*") + lit(0.5))
                .cast("long")
                .alias("v")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cell.setdefault(int(r.cell), {})[int(r.i)] = int(r.v)
        pairs = sorted(
            (cell, [dims[i] for i in sorted(dims)])
            for cell, dims in by_cell.items()
        )
        cell_ids = np.array([c for c, _ in pairs], dtype=np.int64)
        C = np.asarray([v for _, v in pairs], dtype=np.float64)
        c_sq = (C * C).sum(axis=1)
    return cell_ids, C, c_sq


def q242_ivf_trained_grown_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q238's trained-vs-seeded question asked of the DEPLOYABLE grown
    geometry (round-10 VERDICT ask #4): candidate recall@5 of the
    auto_cells(N)/auto_probe IVF layout — the q217b/q227/q237/q239 index
    shape — under deterministic lowest-vec_id seeding VS after two
    integer-milli Lloyd rounds (_lloyd_milli). q238 proved training lifts
    recall on q53's fixed 16-cell layout; this measures it on the
    geometry a 100 TB store actually ships, making the trained quantizer
    a drop-in for the grown index family (same cell-id labeling, same
    integer metric, same probe rule).

    Determinism: everything runs in the milli-quantized integer metric
    (q217b/q222 convention) and the Lloyd handoff re-quantizes to
    integers (q240's FLOOR(sum/count + 0.5)), so every assignment argmin,
    probe rank, and exact-ground-truth rank is an exact integer both
    engines order identically.

    Scale: training is iters × (map-side GEMM assignment + one
    sqrt(N)·dim-bounded groupBy/collect) — the canonical distributed
    k-means; both variant assignments are one GEMM pass each; the exact
    side is the q51 broadcast-query shape; audit joins are ≤ 5·|queries|
    rows a side. Oracle-gated, not headlined: it re-runs the q217b
    assignment shape three times plus training (the q162/q173
    double-count convention)."""
    emb = load(spark, sf_dir, "embeddings")
    e = persist_tracked(
        spread(emb, _GEMM_SPREAD_BYTES).select(
            "vec_id", _milli(as_double_array(col("embedding"))).alias("xm")
        )
    )
    n = e.count()
    n_cells = auto_cells(n)
    n_probe = auto_probe(n_cells)
    seeds = sorted(
        (int(r.vec_id), list(r.xm))
        for r in e.orderBy("vec_id").limit(n_cells).collect()
    )
    ids0, C0, sq0 = _seed_matrix(seeds, quantize=False)
    ids2, C2, sq2 = _lloyd_milli(e, ids0, C0, sq0, iters=2)

    q = _panel(e, "xm", "qm")
    exact = _exact_topk(e, q, "xm", "qm")
    import numpy as np

    qrows = sorted((int(r.q_id), list(r.qm)) for r in q.collect())
    parts = []
    for variant, (ids, C, csq) in (
        ("seeded", (ids0, C0, sq0)),
        ("trained", (ids2, C2, sq2)),
    ):
        asn = _gemm_assign(
            e, ids, C, csq, "xm", "d", quantize_input=False
        ).select(col("vec_id").alias("neighbor_id"), "cell")
        probe_rows = []
        for q_id, qm in qrows:
            x = np.asarray(qm, dtype=np.float64)
            dq = (x * x).sum() - 2.0 * (C @ x) + csq
            for ci in np.lexsort((ids, dq))[:n_probe]:
                probe_rows.append((q_id, int(ids[ci])))
        probes = spark.createDataFrame(probe_rows, "q_id long, cell long")
        hits = exact.join(asn, "neighbor_id").join(broadcast(probes), ["q_id", "cell"])
        parts.append(_recall_rows(q, hits, variant=variant))
    return parts[0].unionByName(parts[1]).orderBy("variant", "q_id")


# --- semantic dedup (SemDeDup) ---------------------------------------------

_SEM_T = 0.4  # same cosine regime as q44's near-dup threshold


def semantic_dedup(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = _SEM_T,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster embeddings with a
    coarse quantizer, then within each cluster mark a vector as a duplicate
    if its cosine to ANY lower-id cluster member reaches the threshold —
    the greedy keep-lowest-id policy, applied cluster-locally so the
    pairwise check never crosses cluster boundaries.

    Scale (100 TB): assignment is map-side (centroid literals, zero
    shuffle); the pairwise check shuffles once on the cell key and compares
    ~N²/(2K) pairs, so K grows with N exactly like q44b's LSH bits — the
    cluster count is the bucket-occupancy knob. The dup marker dedups
    per-vector (a vector beaten by several earlier members counts once).

    Returns per-cell rows: (cell, n_members, n_dups, keep_rate)."""
    a = persist_tracked(
        ivf_assign(spread(emb), centroids).withColumn("nsq", dot(col("v"), col("v")))
    )
    x = a.alias("x")
    y = a.alias("y")
    cos = dot(col("x.v"), col("y.v")) / F.sqrt(col("x.nsq") * col("y.nsq"))
    dups = (
        x.join(y, (col("x.cell") == col("y.cell")) & (col("x.vec_id") < col("y.vec_id")))
        .where(F.round(cos, 4) >= threshold)
        .select(col("y.cell").alias("cell"), col("y.vec_id").alias("dup_id"))
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_dups"))
    )
    members = a.groupBy("cell").agg(F.count("*").alias("n_members"))
    return (
        members.join(dups, "cell", "left")
        .select(
            "cell",
            "n_members",
            F.coalesce(col("n_dups"), lit(0)).alias("n_dups"),
            F.round(
                lit(1.0) - F.coalesce(col("n_dups"), lit(0)) / col("n_members"), 4
            ).alias("keep_rate"),
        )
        .orderBy("cell")
    )


def q123_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
        .collect()
    )
    centroids = [(int(r.vec_id), list(r.v)) for r in sorted(seeds, key=lambda r: r.vec_id)]
    return semantic_dedup(emb, centroids)


# --- BLAS-path exact kNN (mapInPandas + matmul) ----------------------------

def matmul_topk_per_query(emb: DataFrame, query_pred, k: int = 5) -> DataFrame:
    """q51's semantics on the vectorized Arrow path: each corpus partition
    streams through mapInPandas as Arrow batches, one float64 matmul scores
    the whole batch against the broadcast query matrix, and only the
    per-partition top-k survive to the (tiny) global re-rank window.

    This is the physical strategy that wins when per-pair column folds
    become the bottleneck: one BLAS GEMM per batch replaces n×m expression
    evaluations, and the shuffle carries at most partitions×queries×k rows
    instead of the full n×m score matrix. The query side is collected
    driver-side (queries are few — same bound as the IVF centroid seeds)
    and ships inside the serialized closure.

    Numeric note: BLAS accumulates dot products in a different order than
    a sequential fold, so raw cos values can differ from q51's by ~1 ulp;
    the published cos rounds to 4 decimals, and rank ties break by
    neighbor_id — pinned equal to q51's oracle on the fixtures."""
    import numpy as np
    import pandas as pd

    e = spread(emb, _GEMM_SPREAD_BYTES).select(col("vec_id"), as_double_array(col("embedding")).alias("v"))
    qrows = sorted(e.where(query_pred).collect(), key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([list(r.v) for r in qrows], dtype=np.float64)
    qn = (qmat * qmat).sum(axis=1)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vmat = np.array(pdf["v"].tolist(), dtype=np.float64)
            vn = (vmat * vmat).sum(axis=1)
            cos = (vmat @ qmat.T) / np.sqrt(vn[:, None] * qn[None, :])
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                keep = np.nonzero(ids != qids[j])[0]
                # lexsort: primary -cos desc, secondary vec_id asc
                order = keep[np.lexsort((ids[keep], -cos[keep, j]))][:k]
                out_q.extend([qids[j]] * len(order))
                out_n.extend(ids[order])
                out_c.extend(cos[order, j])
            yield pd.DataFrame(
                {"q_id": out_q, "neighbor_id": out_n, "cos_raw": out_c}
            )

    local = e.mapInPandas(score, schema="q_id long, neighbor_id long, cos_raw double")
    w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc(), col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("cos_raw", 4).alias("cos"))
        .orderBy("q_id", "rank")
    )


def q51b_matmul_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q51's top-k per query on the BLAS path — same oracle, different
    physical plan (GEMM instead of per-pair folds)."""
    emb = load(spark, sf_dir, "embeddings")
    return matmul_topk_per_query(emb, col("vec_id") < 10, k=5)


# --- q212: embedding Gram / covariance audit ---------------------------------
# The PCA/whitening PREP step an embedding pipeline runs before
# dimensionality reduction or ZCA whitening: the d×d Gram matrix X'X and
# the mean-centered covariance, computed EXACTLY over integer-quantized
# elements. The eigen-solve itself is the d×d driver/BLAS step (d ≤ a few
# hundred — scalar class, like the k-means centroid handoff); this
# operator is the corpus-wide pass that feeds it. Complements q151 (corr
# over a few chosen scalar columns) with the full outer-product over the
# VECTOR column, and q186 (INT8 quant audit) with second-moment structure.


def _gram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated Gram partials (i, j, p): upper-triangle int64 Gram sums
    (i ≥ 0, j ≥ 0), per-column sums (j = −1), and the row count
    (i = j = −1) — one corpus mapInPandas GEMM pass + one (i, j) reduce.
    Shared by q212's distributed plan and the d²-bounded driver collect
    (`_cov_matrix`)."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb, _GEMM_SPREAD_BYTES).select(as_double_array(col("embedding")).alias("v"))

    def gram_parts(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.floor(
                np.array(pdf["v"].tolist(), dtype=np.float64) * 1000.0 + 0.5
            ).astype(np.int64)
            n, d = X.shape
            G = X.T @ X  # int64-exact
            S = X.sum(axis=0)
            ii, jj = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii, np.arange(d), [-1]]).astype(np.int32),
                    "j": np.concatenate(
                        [jj, np.full(d, -1), [-1]]
                    ).astype(np.int32),
                    "p": np.concatenate([G[ii, jj], S, [n]]).astype(np.int64),
                }
            )

    return (
        e.mapInPandas(gram_parts, schema="i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("p"))
    )


def _cov_matrix(spark: SparkSession, sf_dir: str):
    """(d, C): q212's exact integer covariance as a dense symmetric numpy
    int64 matrix, via ONE collect of `_gram_agg` (d(d+1)/2 + d + 1 rows —
    the documented d²-bounded driver/BLAS handoff). Collecting the raw
    sums instead of the finished q212 output skips q212's persist +
    two broadcast joins + crossJoin (3-4 driver jobs per caller, measured
    ~0.4 s at sf0.1); the covariance FLOOR(p/n − (si/n)(sj/n) + 0.5) is
    then computed with the IDENTICAL float64 op tree (int64→double exact
    below 2^53, elementwise IEEE ops deterministic), so the matrix is
    bit-identical to collecting q212's cov_m2 column."""
    import numpy as np

    rows = _gram_agg(spark, sf_dir).collect()
    n = next(int(r.p) for r in rows if r.i == -1)
    d = max(r.j for r in rows) + 1
    S = np.zeros(d, dtype=np.int64)
    G = np.zeros((d, d), dtype=np.int64)
    for r in rows:
        if r.i == -1:
            continue
        if r.j == -1:
            S[r.i] = r.p
        else:
            G[r.i, r.j] = r.p
    fn = float(n)
    a = S / fn  # si/n, one division per column — the q212 op order
    C = np.floor(G.astype(np.float64) / fn - np.outer(a, a) + 0.5).astype(
        np.int64
    )
    iu = np.triu_indices(d, 1)
    C[(iu[1], iu[0])] = C[iu]  # mirror the computed upper triangle
    return d, C


def q212_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle (i ≤ j) of the d×d Gram and covariance of the
    embedding corpus, exact: elements quantize to milli-units via the
    knife-proof FLOOR(x·1000 + 0.5), per-batch partials are int64 numpy
    matmuls (X'X — exact integer, partial-order-proof), and the final
    covariance is FLOOR(Sij/n − (Si/n)·(Sj/n) + 0.5): the centered term
    is computed in float64 with the IDENTICAL operation tree in the
    duckdb oracle (int64→double conversions are exact below 2^53, and
    IEEE-754 ops are deterministic, so the engines stay bit-identical).
    The earlier integer spelling n·Sij − Si·Sj overflows int64 near
    n ≈ 3e6 rows — Spark (ANSI off) would wrap silently while duckdb
    errors, the q206 cross-engine divergence class — so the scale path
    must not use it.

    Scale: the corpus pass is mapInPandas emitting d(d+1)/2 + d + 1
    partial rows PER ARROW BATCH (the q51b GEMM pattern — one BLAS-class
    int64 matmul per batch instead of n·d² expression evaluations); ONE
    (i, j) shuffle reduces batch partials; everything after is
    d²-dimension math with broadcast joins. Dim derives from the data
    per batch — no fixture literal (the q186 bug class)."""
    agg = persist_tracked(_gram_agg(spark, sf_dir))
    nrow = agg.where(col("i") == -1).select(col("p").alias("n"))
    s_i = agg.where((col("j") == -1) & (col("i") >= 0)).select(
        col("i").alias("k"), col("p").alias("s")
    )
    return (
        agg.where(col("j") >= 0)
        .join(F.broadcast(s_i.select(col("k").alias("i"), col("s").alias("si"))), "i")
        .join(F.broadcast(s_i.select(col("k").alias("j"), col("s").alias("sj"))), "j")
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            col("p").alias("gram"),
            F.floor(
                col("p").cast("double") / col("n").cast("double")
                - (col("si").cast("double") / col("n").cast("double"))
                * (col("sj").cast("double") / col("n").cast("double"))
                + lit(0.5)
            )
            .cast("long")
            .alias("cov_m2"),
        )
        .orderBy("i", "j")
    )


# Shared CTE body: milli-quantized elements -> exact integer Gram sums,
# column sums, and row count -> upper-triangle covariance `ut(i, j,
# gram, cov_m2)`. Used by the q212 oracle and (extended with mirrored
# matrix + unrolled power iterations) the q218 oracle.
_GRAM_CTES = f"""e AS (SELECT {as_double_array_sql('embedding')} AS v FROM embeddings),
q AS (SELECT list_transform(v, x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS xm
      FROM e),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
pair AS (
  SELECT t.i, t2.j, CAST(SUM(xm[t.i + 1] * xm[t2.j + 1]) AS BIGINT) AS sij
  FROM q, UNNEST(range(0, len(xm))) AS t(i), UNNEST(range(0, len(xm))) AS t2(j)
  WHERE t2.j >= t.i GROUP BY 1, 2),
s AS (SELECT t.i, CAST(SUM(xm[t.i + 1]) AS BIGINT) AS si
      FROM q, UNNEST(range(0, len(xm))) AS t(i) GROUP BY 1),
ut AS MATERIALIZED (
  SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, p.sij AS gram,
         CAST(FLOOR(CAST(p.sij AS DOUBLE) / CAST(nn.n AS DOUBLE)
                    - (CAST(a.si AS DOUBLE) / CAST(nn.n AS DOUBLE))
                      * (CAST(b.si AS DOUBLE) / CAST(nn.n AS DOUBLE)) + 0.5)
              AS BIGINT) AS cov_m2
  FROM pair p JOIN s a ON a.i = p.i JOIN s b ON b.i = p.j CROSS JOIN nn)"""

_GRAM_SQL = f"""
WITH {_GRAM_CTES}
SELECT i, j, gram, cov_m2 FROM ut ORDER BY i, j
"""


# --- q218: PCA top component via integer-quantized power iteration -----------
# The eigen-solve q212's docstring defers to the driver, made distributed
# and oracle-checkable: power iteration v <- normalize(C v) over the exact
# integer covariance, with the iterate RE-QUANTIZED to micro-units after
# every normalization — so both engines walk the identical integer
# sequence (the q54b iterative-k-means convention applied to a matrix
# recurrence). Three iterations from the deterministic all-ones start:
# the dominant principal direction every whitening/low-rank-projection
# pipeline needs first.

_PCA_ITERS = 3


def q218_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, v_micro, loading, eig_m2): the dominant-eigenvector iterate
    after 3 quantized power steps, plus the eigenvalue estimate (the last
    step's max |C v| de-scaled — exact-integer max, one mirrored FLOOR).

    Determinism: C is q212's exact integer covariance; each mat-vec is an
    exact int64 product-sum; the ONLY float op per iteration is the
    renormalization (1e6·w)/m — the identical float64 sequence in numpy,
    Spark, and duckdb — then FLOOR(+0.5) re-quantizes, so all engines
    walk the same integer sequence.

    Scale: the corpus appears ONCE (q212's batched-GEMM pass, distributed);
    the d×d covariance is d²-bounded — the documented driver/BLAS handoff
    (q212's docstring) — so the iteration runs AT the driver as exact
    integer BLAS: collecting it is d(d+1)/2 longs, and a spelled-out
    distributed iteration was measured 10× slower at ANY corpus size (3
    iterations × join/agg/broadcast driver latency) while computing the
    identical integers."""
    import numpy as np

    d, C = _cov_matrix(spark, sf_dir)
    v = np.full(d, 1_000_000, dtype=np.int64)
    m = 0
    for _ in range(_PCA_ITERS):
        w = C @ v  # int64-exact
        m = int(np.abs(w).max())
        v = np.floor(1e6 * w / m + 0.5).astype(np.int64)
    eig = int(np.floor(m / 1e6 + 0.5))
    base = spark.createDataFrame(
        [(int(i), int(v[i])) for i in range(d)], "i int, v_micro long"
    )
    return base.select(
        "i",
        "v_micro",
        F.round(col("v_micro") / lit(1e6), 4).alias("loading"),
        lit(eig).cast("long").alias("eig_m2"),
    ).orderBy("i")


def _pca_power_sql() -> str:
    its = ""
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        its += f""",
w{t} AS MATERIALIZED (SELECT c.i, CAST(SUM(c.cov_m2 * v.v) AS BIGINT) AS w
         FROM cov c JOIN {prev} v ON v.i = c.j GROUP BY 1),
m{t} AS (SELECT MAX(ABS(w)) AS m FROM w{t}),
v{t} AS MATERIALIZED (SELECT i, CAST(FLOOR(1e6 * w / m + 0.5) AS BIGINT) AS v
         FROM w{t} CROSS JOIN m{t})"""
        prev = f"v{t}"
    last = _PCA_ITERS
    # MATERIALIZED hints: duckdb inlines multiply-referenced CTEs by
    # default, which re-evaluates the d²-heavy pair CTE once per
    # iteration reference (~8x, measured 127 s vs ~8 s at sf0.1) — the
    # hint pins evaluate-once semantics without changing the result.
    return f"""
WITH {_GRAM_CTES},
cov AS MATERIALIZED (SELECT i, j, cov_m2 FROM ut
        UNION ALL
        SELECT j AS i, i AS j, cov_m2 FROM ut WHERE i <> j),
v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM cov){its}
SELECT v.i, v.v AS v_micro, ROUND(v.v / 1e6, 4) AS loading,
       CAST(FLOOR(m.m / 1e6 + 0.5) AS BIGINT) AS eig_m2
FROM v{last} v CROSS JOIN m{last} m
ORDER BY v.i
"""


# --- q226/q227: PCA projection chain -----------------------------------------
# q218 produces the dominant component but (round-8 VERDICT ask #4) nothing
# consumed it. q226 closes the loop: top-K components via DEFLATED quantized
# power iteration (the q218 recurrence, then C ← C − λ·uuᵀ after each
# component — every handoff an integer, every float op tree mirrored), then
# the projection-apply pass — corpus × components → reduced vectors — as a
# map-side GEMM (the q171/q212 batch pattern). q227 then rebuilds q217b's
# grown-cells IVF *in the reduced space* and audits its recall against the
# full-space exact 5-NN (q222's ground truth): the reduction → index → audit
# composition a real vector store runs, with the recall row quantifying what
# the K/d compression costs.

_PCA_K = 4  # top components kept by the reduction


def _pca_topk_components(spark: SparkSession, sf_dir: str):
    """(d, [(v, vv, eig), ...]) — K deflated power-iteration components
    from q212's exact integer covariance (collected: d(d+1)/2 longs, the
    documented d²-bounded driver/BLAS handoff). Per component: 3 quantized
    power steps (the q218 sequence verbatim), then deflation
    C ← C − ⌊eig·v_i·v_j/vv + 0.5⌋ — eig = ⌊m/1e6+0.5⌋ and vv = Σv² are
    exact integers, v_i·v_j ≤ 1e12 is float64-exact, and the one rounded
    float expression is the identical op tree in numpy and the oracle's
    SQL, so both engines deflate to the SAME integer matrix. With 3 steps
    per component the directions are the defined iterates, not converged
    eigenvectors — the operator's contract is the deterministic sequence
    (the q54b convention), documented as such. Fails loud on a
    degenerate (rank < K) covariance."""
    import numpy as np

    d, C = _cov_matrix(spark, sf_dir)
    comps = []
    for _ in range(_PCA_K):
        v = np.full(d, 1_000_000, dtype=np.int64)
        m = 0
        for _ in range(_PCA_ITERS):
            w = C @ v  # int64-exact (bounds: |cov|·d·1e6 ≪ 2^63)
            m = int(np.abs(w).max())
            if m == 0:
                raise ValueError(
                    "covariance deflated to zero — corpus rank < _PCA_K"
                )
            v = np.floor(1e6 * w / m + 0.5).astype(np.int64)
        vv = int((v * v).sum())
        eig = int(np.floor(m / 1e6 + 0.5))
        comps.append((v, vv, eig))
        C = C - np.floor(
            float(eig) * np.outer(v, v).astype(np.float64) / float(vv) + 0.5
        ).astype(np.int64)
    return d, comps


def _pca_reduce(spark: SparkSession, sf_dir: str):
    """(reduced df (vec_id, rv array<long> length K), d, comps): the
    projection-apply pass. Each Arrow batch milli-quantizes its vectors
    and runs ONE numpy GEMM against the K×d component matrix (products
    ≤ d·2e4·1e6 ≈ 1.3e12 — float64-exact), then quantizes each coordinate
    to milli-units of the unit-normalized component:
    rm = ⌊r/√vv + 0.5⌋ (IEEE sqrt is correctly rounded, so the divisor is
    the same double everywhere). Map-side only — zero shuffle; the corpus
    is read once."""
    import numpy as np
    import pandas as pd

    d, comps = _pca_topk_components(spark, sf_dir)
    V = np.array([c[0] for c in comps], dtype=np.float64)  # K × d
    sq = np.array([np.sqrt(float(c[1])) for c in comps])

    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb, _GEMM_SPREAD_BYTES).select("vec_id", as_double_array(col("embedding")).alias("v"))

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.floor(
                np.array(pdf["v"].tolist(), dtype=np.float64) * 1000.0 + 0.5
            )
            R = X @ V.T  # exact: integer-valued floats < 2^53
            RM = np.floor(R / sq[None, :] + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "rv": list(RM)}
            )

    red = e.mapInPandas(project, schema="vec_id long, rv array<long>")
    return red, d, comps


def q226_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c, eig_m2, n_vecs, sum_rm, var_m2, checksum): the per-component
    audit of the reduced corpus — eigenvalue estimate, exact integer sum
    of the reduced coordinates, their variance (milli², the q212
    FLOOR-tree), and a position-insensitive but VALUE-exact checksum
    (Σ hash48(vec_id:c:rm) mod 1000003 — any single reduced coordinate
    changing changes it), so the oracle pins every projected value
    without hashing 4N rows of output."""
    red, d, comps = _pca_reduce(spark, sf_dir)
    sel = red.select(
        "vec_id", F.posexplode("rv").alias("c0", "rm")
    ).select((col("c0") + 1).alias("c"), "vec_id", "rm")
    eigs = spark.createDataFrame(
        [(i + 1, int(c[2])) for i, c in enumerate(comps)], "c int, eig_m2 long"
    )
    n = F.count("*")
    s1 = F.sum("rm").cast("double")
    s2 = F.sum(col("rm") * col("rm")).cast("double")
    agg = (
        sel.groupBy("c")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("rm").alias("sum_rm"),
            F.floor(s2 / n - (s1 / n) * (s1 / n) + lit(0.5))
            .cast("long")
            .alias("var_m2"),
            F.sum(
                hash48(
                    F.concat_ws(
                        ":",
                        col("vec_id").cast("string"),
                        col("c").cast("string"),
                        col("rm").cast("string"),
                    )
                )
                % lit(1000003)
            ).alias("checksum"),
        )
    )
    return (
        agg.join(F.broadcast(eigs), "c")
        .select("c", "eig_m2", "n_vecs", "sum_rm", "var_m2", "checksum")
        .orderBy("c")
    )


def q227_reduced_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q222's two-layer recall audit run against an IVF-flat index built
    in q226's K-dim REDUCED space — the dimensionality-reduction → index
    → audit composition: cells = auto_cells(N), probes = auto_probe
    (q217b's grown geometry), assignment one numpy GEMM per Arrow batch
    over K-dim integer vectors (16× cheaper than the full-space build at
    K=4 of 64 — the point of reducing), candidates ranked by EXACT
    reduced-space squared L2 (integer — no PQ at K=4), ground truth the
    full-space exact 5-NN in the milli-quantized metric (q222's).
    cand_recall isolates what the PROJECTION + cell routing lose;
    recall_at_5 the end-to-end answer quality a reduced index buys."""
    import numpy as np

    red0, d, comps = _pca_reduce(spark, sf_dir)
    red = persist_tracked(red0)
    n = red.count()
    n_cells = auto_cells(n)
    n_probe = auto_probe(n_cells)
    seeds = sorted(
        (int(r.vec_id), list(r.rv))
        for r in red.orderBy("vec_id").limit(n_cells).collect()
    )
    # reduced-space vectors are already exact integers — no milli quant
    cell_ids, Cr, c_sq = _seed_matrix(seeds, quantize=False)

    asg = persist_tracked(
        _gemm_assign(red, cell_ids, Cr, c_sq, "rv", "vector", quantize_input=False)
    )

    qrows = sorted(
        (int(r.vec_id), list(r.rv))
        for r in red.where(col("vec_id").isin(*_AUDIT_PANEL)).collect()
    )
    probe_rows, q_rows = [], []
    for q_id, qrv in qrows:
        x = np.asarray(qrv, dtype=np.float64)
        dq = (x * x).sum() - 2.0 * (Cr @ x) + c_sq
        for ci in np.lexsort((cell_ids, dq))[:n_probe]:
            probe_rows.append((q_id, int(cell_ids[ci])))
        q_rows.append((q_id, [int(v) for v in qrv]))
    probe_pairs = spark.createDataFrame(probe_rows, "q_id long, cell long")
    qdf = spark.createDataFrame(q_rows, "q_id long, qrv array<long>")

    dist = F.aggregate(
        F.zip_with(col("rv"), col("qrv"), lambda a, b: (a - b) * (a - b)),
        lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(col("dd"), col("neighbor_id"))
    approx = (
        asg.join(broadcast(probe_pairs), "cell")
        .where(col("vec_id") != col("q_id"))
        .join(broadcast(qdf), "q_id")
        .select("q_id", col("vec_id").alias("neighbor_id"), dist.alias("dd"))
        .withColumn("rank", F.row_number().over(w))
        .where(col("rank") <= 5)
        .select("q_id", "neighbor_id")
    )

    # Full-space exact 5-NN ground truth (q222's milli metric, verbatim).
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", _milli(as_double_array(col("embedding"))).alias("xm")
    )
    q = _panel(e, "xm", "qm")
    exact = _exact_topk(e, q, "xm", "qm")
    asn = asg.select(col("vec_id").alias("neighbor_id"), "cell")
    return _recall_rows(
        q,
        exact.join(approx, ["q_id", "neighbor_id"]),
        exact.join(asn, "neighbor_id").join(broadcast(probe_pairs), ["q_id", "cell"]),
    ).orderBy("q_id")


def _pca_topk_ctes() -> str:
    """CTE chain: _GRAM_CTES → symmetrized cov1 → per-component 3-step
    power iteration + integer deflation → ``comp(c, i, v)``,
    ``cvv(c, vv)``, ``ceig(c, eig)`` — the SQL twin of
    _pca_topk_components (every float expression the identical op
    tree)."""
    parts = [
        f"""{_GRAM_CTES},
cov1 AS MATERIALIZED (SELECT i, j, cov_m2 AS cov FROM ut
        UNION ALL
        SELECT j AS i, i AS j, cov_m2 FROM ut WHERE i <> j)"""
    ]
    for c in range(1, _PCA_K + 1):
        parts.append(
            f"v{c}_0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v"
            f" FROM cov1)"
        )
        for t in range(1, _PCA_ITERS + 1):
            parts.append(
                f"""w{c}_{t} AS MATERIALIZED (
  SELECT m.i, CAST(SUM(m.cov * v.v) AS BIGINT) AS w
  FROM cov{c} m JOIN v{c}_{t - 1} v ON v.i = m.j GROUP BY 1)"""
            )
            parts.append(f"m{c}_{t} AS (SELECT MAX(ABS(w)) AS m FROM w{c}_{t})")
            parts.append(
                f"""v{c}_{t} AS MATERIALIZED (
  SELECT i, CAST(FLOOR(1e6 * w / m + 0.5) AS BIGINT) AS v
  FROM w{c}_{t} CROSS JOIN m{c}_{t})"""
            )
        last = _PCA_ITERS
        parts.append(
            f"t{c} AS (SELECT CAST(SUM(v * v) AS BIGINT) AS vv FROM v{c}_{last})"
        )
        parts.append(
            f"e{c} AS (SELECT CAST(FLOOR(m / 1e6 + 0.5) AS BIGINT) AS eig"
            f" FROM m{c}_{last})"
        )
        if c < _PCA_K:
            parts.append(
                f"""cov{c + 1} AS MATERIALIZED (
  SELECT m.i, m.j,
         m.cov - CAST(FLOOR(CAST(e.eig AS DOUBLE) * CAST(a.v * b.v AS DOUBLE)
                            / CAST(t.vv AS DOUBLE) + 0.5) AS BIGINT) AS cov
  FROM cov{c} m
  JOIN v{c}_{last} a ON a.i = m.i
  JOIN v{c}_{last} b ON b.i = m.j
  CROSS JOIN e{c} e CROSS JOIN t{c} t)"""
            )
    comp = "\nUNION ALL ".join(
        f"SELECT {c} AS c, i, v FROM v{c}_{_PCA_ITERS}"
        for c in range(1, _PCA_K + 1)
    )
    cvv = "\nUNION ALL ".join(
        f"SELECT {c} AS c, vv FROM t{c}" for c in range(1, _PCA_K + 1)
    )
    ceig = "\nUNION ALL ".join(
        f"SELECT {c} AS c, eig FROM e{c}" for c in range(1, _PCA_K + 1)
    )
    parts.append(f"comp AS MATERIALIZED ({comp})")
    parts.append(f"cvv AS MATERIALIZED ({cvv})")
    parts.append(f"ceig AS ({ceig})")
    return ",\n".join(parts)


# Reduced-coordinate CTEs shared by the q226 and q227 oracles: em (milli
# vectors with vec_id), rv (exact integer dot per component), rm (the
# milli-of-unit-component quantized coordinate).
def _pca_reduced_ctes() -> str:
    return f"""{_pca_topk_ctes()},
em AS MATERIALIZED ({_milli_sql()}),
rvp AS (
  SELECT em.vec_id, comp.c,
         CAST(SUM(em.xm[comp.i + 1] * comp.v) AS BIGINT) AS r
  FROM em, comp GROUP BY 1, 2),
rmt AS MATERIALIZED (
  SELECT vec_id, c,
         CAST(FLOOR(CAST(r AS DOUBLE) / SQRT(CAST(vv AS DOUBLE)) + 0.5)
              AS BIGINT) AS rm
  FROM rvp JOIN cvv USING (c))"""


def _pca_project_sql() -> str:
    cks = hash48_sql(
        "CAST(vec_id AS VARCHAR) || ':' || CAST(rmt.c AS VARCHAR) || ':' "
        "|| CAST(rm AS VARCHAR)"
    )
    return f"""
WITH {_pca_reduced_ctes()}
SELECT rmt.c AS c, ceig.eig AS eig_m2, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(rm) AS BIGINT) AS sum_rm,
       CAST(FLOOR(CAST(SUM(rm * rm) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(rm) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(rm) AS DOUBLE) / COUNT(*)) + 0.5)
            AS BIGINT) AS var_m2,
       CAST(SUM({cks} % 1000003) AS BIGINT) AS checksum
FROM rmt JOIN ceig ON ceig.c = rmt.c
GROUP BY 1, 2 ORDER BY 1
"""


def _reduced_recall_sql() -> str:
    return f"""
WITH {_pca_reduced_ctes()},
rl AS MATERIALIZED (SELECT vec_id, list(rm ORDER BY c) AS rv FROM rmt GROUP BY 1),
params AS ({_grown_params_sql('rl')}),
cents AS MATERIALIZED (
  SELECT vec_id AS cell, rv AS cm
  FROM (SELECT vec_id, rv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM rl)
  CROSS JOIN params WHERE rn <= n_cells),
asn AS MATERIALIZED (
  SELECT rl.vec_id,
         MIN({{'d': {sq_l2_sql('rl.rv', 'c.cm')}, 'c': c.cell}})['c'] AS cell
  FROM rl, cents c GROUP BY rl.vec_id),
qs AS ({_panel_sql('rl', 'rv', 'rv')}),
probes AS MATERIALIZED (
  {_probes_sql('cents', 'rv', 'cm', '(SELECT n_probe FROM params)')}),
ap AS (
  SELECT q_id, neighbor_id FROM (
    SELECT p.q_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.q_id
                              ORDER BY {sq_l2_sql('r.rv', 'q.rv')}, a.vec_id)
             AS rank
    FROM probes p
    JOIN asn a ON a.cell = p.cell
    JOIN rl r ON r.vec_id = a.vec_id
    JOIN qs q ON q.q_id = p.q_id
    WHERE a.vec_id <> p.q_id)
  WHERE rank <= 5),
qx AS ({_panel_sql('em', 'xm', 'qm')}),
ex AS MATERIALIZED ({_exact_topk_sql('em', 'xm', 'qm', panel='qx')}),
ch AS ({_cand_hits_sql('asn', 'probes')}),
h AS ({_hits_sql('ap')})
{_recall_rows_sql('h', 'ch')} ORDER BY q_id
"""


# --- oracles ---------------------------------------------------------------

def _lsh_multiprobe_sql(k: int = 3, n_planes: int | None = None) -> str:
    """q114 mirror: the flip bit is the struct-MIN argmin over (|margin|,
    j) — duckdb struct comparison is lexicographic, the same
    smallest-j-on-ties rule as Spark's array_min over (m, j) structs."""
    return f"""
WITH {lsh_sig_cte_sql(n_planes or _N_PLANES)},
fl AS (SELECT vec_id, MIN({{'m': ABS(pd), 'j': j}})['j'] AS flip
       FROM proj GROUP BY vec_id),
pr AS (SELECT s.vec_id, s.v, s.bucket, fl.flip FROM s JOIN fl USING (vec_id)),
probes AS (
  SELECT vec_id AS q_id, v AS qv, bucket AS probe FROM pr
  UNION ALL
  SELECT vec_id, v, xor(bucket, CAST(1 AS BIGINT) << flip) FROM pr),
cand AS (
  SELECT p.q_id, c.vec_id AS neighbor_id, {cosine_sql('p.qv', 'c.v')} AS cos_raw
  FROM probes p JOIN s c ON p.probe = c.bucket AND p.q_id <> c.vec_id),
ranked AS (
  SELECT q_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM cand)
SELECT q_id, neighbor_id, rank, ROUND(cos_raw, 4) AS cos
FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


def _random_projection_sql() -> str:
    return f"""
WITH {planes_cte_sql(_JL_K)},
e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
proj AS (SELECT vec_id, j, {dot_sql('v', 'w')} * {_JL_INV!r} AS pd
         FROM e, planes),
pv AS (SELECT vec_id, list(pd ORDER BY j) AS pv FROM proj GROUP BY vec_id),
p AS (SELECT e.vec_id, e.v, pv.pv FROM e JOIN pv USING (vec_id)),
pairs AS (
  SELECT CAST(ROUND(ABS(sqrt({sq_l2_sql('a.pv', 'b.pv')})
                    - sqrt({sq_l2_sql('a.v', 'b.v')}))
                    / sqrt({sq_l2_sql('a.v', 'b.v')}) * 1e6) AS BIGINT)
           AS dist_micro
  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 10 = 0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(dist_micro) / COUNT(*) / 1e6, 4) AS avg_distortion,
       ROUND(MAX(dist_micro) / 1e6, 4) AS max_distortion
FROM pairs
"""


def _mutual_ann_sql(n_planes: int | None = None) -> str:
    return f"""
WITH {lsh_sig_cte_sql(n_planes or _N_PLANES)},
cand AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         {cosine_sql('a.v', 'b.v')} AS cos_raw
  FROM s a JOIN s b ON a.bucket = b.bucket
  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
rk AS (
  SELECT a_id, b_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_raw DESC, b_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos_raw DESC, a_id) AS rb
  FROM cand)
SELECT a_id, b_id, ROUND(cos_raw, 4) AS cos
FROM rk WHERE ra = 1 AND rb = 1 ORDER BY a_id
"""


def _lsh_sql(k: int = 3) -> str:
    return f"""
WITH {lsh_sig_cte_sql()},
cand AS (
  SELECT a.vec_id AS q_id, c.vec_id AS neighbor_id,
         {cosine_sql('a.v', 'c.v')} AS cos_raw
  FROM s a JOIN s c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
ranked AS (
  SELECT q_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM cand)
SELECT q_id, neighbor_id, rank, ROUND(cos_raw, 4) AS cos
FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


def _pq_sql(k: int = 5) -> str:
    """q85 mirror. Codeword argmins use MIN over {'d','c'} structs (duckdb
    struct comparison is lexicographic — same order as Spark's array_min
    over (d, c) structs); the ADC sum is the same left-associative + chain
    as the Spark column expression, so raw distances are bit-identical.
    Subspace width ``dsub`` derives in SQL from the data dim (len // M),
    mirroring pq_ann's embedding_dim-derived slicing."""

    def sl(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m} * dsub + 1, ({m} + 1) * dsub)"

    code_aggs = ",\n         ".join(
        f"MIN({{'d': {sq_l2_sql(sl('e.v', m), sl('s.v', m))}, 'c': s.k}})['c'] AS c{m}"
        for m in range(_PQ_M)
    )
    lut_cols = ",\n         ".join(
        f"{sq_l2_sql(sl('q.v', m), sl('s.v', m))} AS d{m}" for m in range(_PQ_M)
    )
    adc = " + ".join(f"l{m}.d{m}" for m in range(_PQ_M))
    lut_joins = "\n  ".join(
        f"JOIN luts l{m} ON l{m}.q_id = qs.q_id AND l{m}.k = c.c{m}"
        for m in range(_PQ_M)
    )
    return f"""
WITH dims AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
seeds AS (SELECT vec_id AS k, v FROM e ORDER BY vec_id LIMIT {_PQ_K}),
codes AS (
  SELECT e.vec_id,
         {code_aggs}
  FROM e, seeds s, dims GROUP BY e.vec_id),
luts AS (
  SELECT q.vec_id AS q_id, s.k,
         {lut_cols}
  FROM e q, seeds s, dims WHERE q.vec_id IN {_AUDIT_PANEL}),
qs AS (SELECT DISTINCT q_id FROM luts),
cand AS (
  SELECT qs.q_id, c.vec_id AS neighbor_id, {adc} AS adc_raw
  FROM codes c
  CROSS JOIN qs
  {lut_joins}
  WHERE c.vec_id <> qs.q_id),
ranked AS (
  SELECT q_id, neighbor_id, adc_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_raw, neighbor_id) AS rank
  FROM cand)
SELECT q_id, neighbor_id, rank, ROUND(adc_raw, 4) AS adc
FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


def _pq_trained_sql() -> str:
    """q240 mirror. Both codebook variants, the one-Lloyd-round training,
    the LUTs, and the ADC ranking all run in the milli-quantized integer
    metric, so every argmin/sum/rank is an exact integer in both engines;
    the trained codeword means re-quantize through the SAME single double
    division (FLOOR(CAST(SUM(x) AS DOUBLE)/COUNT(*) + 0.5)) the Spark
    side computes. Code ids are seed RANK positions (0..K-1); struct-MIN
    ties therefore break to the smallest id, matching numpy argmin's
    first minimum over ascending ids."""

    def sl(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m} * dsub + 1, ({m} + 1) * dsub)"

    code0_aggs = ",\n         ".join(
        f"MIN({{'d': {sq_l2_sql(sl('e.xm', m), sl('s.xm', m))}, 'c': s.k}})['c'] AS c{m}"
        for m in range(_PQ_M)
    )
    code1_aggs = ",\n         ".join(
        f"MIN(CASE WHEN b.m = {m} THEN"
        f" {{'d': {sq_l2_sql(sl('e.xm', m), 'b.cv')}, 'c': b.k}} END)['c'] AS c{m}"
        for m in range(_PQ_M)
    )
    carr = "[" + ", ".join(f"c.c{m}" for m in range(_PQ_M)) + "]"
    lut0_cols = ",\n         ".join(
        f"{sq_l2_sql(sl('q.qm', m), sl('s.xm', m))} AS d{m}"
        for m in range(_PQ_M)
    )
    qslice = "list_slice(q.qm, b.m * dsub + 1, (b.m + 1) * dsub)"
    adc0 = " + ".join(f"j{m}.d{m}" for m in range(_PQ_M))
    adc1 = " + ".join(f"j{m}.d" for m in range(_PQ_M))
    joins0 = "\n  ".join(
        f"JOIN l0 j{m} ON j{m}.q_id = qs.q_id AND j{m}.k = c.c{m}"
        for m in range(_PQ_M)
    )
    joins1 = "\n  ".join(
        f"JOIN l1 j{m} ON j{m}.q_id = qs.q_id AND j{m}.m = {m}"
        f" AND j{m}.k = c.c{m}"
        for m in range(_PQ_M)
    )
    return f"""
WITH dims AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
e AS ({_milli_sql()}),
s AS (SELECT rn - 1 AS k, xm
      FROM (SELECT vec_id, xm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
            FROM e) t
      WHERE rn <= {_PQ_K}),
codes0 AS (
  SELECT e.vec_id,
         {code0_aggs}
  FROM e, s, dims GROUP BY e.vec_id),
tr AS (
  SELECT t.i AS i, e.xm[t.i] AS x,
         {carr}[CAST((t.i - 1) // dsub AS INT) + 1] AS k
  FROM codes0 c JOIN e USING (vec_id) CROSS JOIN dims,
       UNNEST(range(1, len(e.xm) + 1)) AS t(i)),
cw AS (
  SELECT m, k, list(v ORDER BY i) AS cv FROM (
    SELECT CAST((i - 1) // dsub AS BIGINT) AS m, k, i,
           CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS v
    FROM tr CROSS JOIN dims GROUP BY 1, 2, 3) u
  GROUP BY m, k),
codes1 AS (
  SELECT e.vec_id,
         {code1_aggs}
  FROM e, cw b, dims GROUP BY e.vec_id),
qs AS ({_panel_sql('e', 'xm', 'qm')}),
l0 AS (SELECT q.q_id, s.k,
         {lut0_cols}
       FROM qs q, s, dims),
l1 AS (SELECT q.q_id, b.m, b.k,
         {sq_l2_sql(qslice, 'b.cv')} AS d
       FROM qs q, cw b, dims),
ex AS ({_exact_topk_sql('e', 'xm', 'qm')}),
a0 AS (
  SELECT q_id, neighbor_id FROM (
    SELECT qs.q_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qs.q_id
             ORDER BY {adc0}, c.vec_id) AS rank
    FROM codes0 c CROSS JOIN qs
    {joins0}
    WHERE c.vec_id <> qs.q_id) t
  WHERE rank <= 5),
a1 AS (
  SELECT q_id, neighbor_id FROM (
    SELECT qs.q_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qs.q_id
             ORDER BY {adc1}, c.vec_id) AS rank
    FROM codes1 c CROSS JOIN qs
    {joins1}
    WHERE c.vec_id <> qs.q_id) t
  WHERE rank <= 5),
h0 AS ({_hits_sql('a0')}),
h1 AS ({_hits_sql('a1')})
{_variant_recall_sql('h0', 'h1')}
"""


def _ivfpq_sql(k: int = 5) -> str:
    """q217 mirror: same struct-MIN argmins (cell/code ids are the seed
    vec_ids — monotone-equivalent to Spark's positional indices, so every
    tie breaks identically), same left-fold sq_l2, same left-associative
    ADC chain; residuals are plain IEEE double subtractions in both
    engines, so raw ADC is bit-identical."""

    def sl(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m} * dsub + 1, ({m} + 1) * dsub)"

    code_aggs = ",\n         ".join(
        f"MIN({{'d': {sq_l2_sql(sl('r.rv', m), sl('s.rv', m))}, 'c': s.k}})['c'] AS c{m}"
        for m in range(_PQ_M)
    )
    lut_cols = ",\n         ".join(
        f"{sq_l2_sql(sl('p.qr', m), sl('s.rv', m))} AS d{m}" for m in range(_PQ_M)
    )
    adc = " + ".join(f"l{m}.d{m}" for m in range(_PQ_M))
    lut_joins = "\n  ".join(
        f"JOIN luts l{m} ON l{m}.q_id = p.q_id AND l{m}.cell = p.cell"
        f" AND l{m}.k = c.c{m}"
        for m in range(_PQ_M)
    )
    return f"""
WITH dims AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}),
asn AS (
  SELECT e.vec_id, MIN({{'d': {sq_l2_sql('e.v', 'c.cv')}, 'c': c.cell}})['c'] AS cell
  FROM e, cents c GROUP BY e.vec_id),
res AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, 1 + len(e.v)), j -> e.v[j] - c.cv[j]) AS rv
  FROM asn a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.cell = a.cell),
seeds AS (SELECT vec_id AS k, rv FROM res ORDER BY vec_id LIMIT {_PQ_K}),
codes AS (
  SELECT r.vec_id, r.cell,
         {code_aggs}
  FROM res r, seeds s, dims GROUP BY r.vec_id, r.cell),
qs AS ({_panel_sql('e', 'v', 'qv')}),
pr AS (
  SELECT q.q_id, c.cell, c.cv,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
                            ORDER BY {sq_l2_sql('q.qv', 'c.cv')}, c.cell)
           AS pr_rank
  FROM qs q, cents c),
probes AS (
  SELECT p.q_id, p.cell,
         list_transform(range(1, 1 + len(q.qv)), j -> q.qv[j] - p.cv[j]) AS qr
  FROM pr p JOIN qs q ON q.q_id = p.q_id WHERE p.pr_rank <= {_IVF_PROBE}),
luts AS (
  SELECT p.q_id, p.cell, s.k,
         {lut_cols}
  FROM probes p, seeds s, dims),
cand AS (
  SELECT p.q_id, c.vec_id AS neighbor_id, {adc} AS adc_raw
  FROM probes p
  JOIN codes c ON c.cell = p.cell
  {lut_joins}
  WHERE c.vec_id <> p.q_id),
ranked AS (
  SELECT q_id, neighbor_id, adc_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY adc_raw, neighbor_id) AS rank
  FROM cand)
SELECT q_id, neighbor_id, rank, ROUND(adc_raw, 4) AS adc
FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


def _ivfpq_grown_sql(k: int = 5) -> str:
    """q217b mirror — the QUANTIZED IVF-PQ: elements milli-quantize to
    BIGINT, so every distance/argmin/ADC is an exact integer (no IEEE
    fold mirroring needed — Spark computes the identical integers via
    BLAS-exact float64, see q217b's docstring). n_cells/n_probe derive
    from COUNT(*) in the params CTE — the exact integer twins of
    auto_cells/auto_probe (IEEE sqrt/log2 are correctly rounded in both
    engines). Code/cell ids are seed vec_ids — monotone-equivalent to
    Spark's positional argmins, so ties break identically."""

    def sl(expr: str, m: int) -> str:
        return f"list_slice({expr}, {m} * dsub + 1, ({m} + 1) * dsub)"

    code_aggs = ",\n         ".join(
        f"MIN({{'d': {sq_l2_sql(sl('r.rv', m), sl('s.rv', m))}, 'c': s.k}})['c'] AS c{m}"
        for m in range(_PQ_M)
    )
    lut_cols = ",\n         ".join(
        f"{sq_l2_sql(sl('p.qr', m), sl('s.rv', m))} AS d{m}" for m in range(_PQ_M)
    )
    adc = " + ".join(f"l{m}.d{m}" for m in range(_PQ_M))
    lut_joins = "\n  ".join(
        f"JOIN luts l{m} ON l{m}.q_id = p.q_id AND l{m}.cell = p.cell"
        f" AND l{m}.k = c.c{m}"
        for m in range(_PQ_M)
    )
    return f"""
WITH dims AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
e AS ({_milli_sql()}),
params AS ({_grown_params_sql('e')}),
cents AS (
  SELECT vec_id AS cell, xm AS cm
  FROM (SELECT vec_id, xm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
  CROSS JOIN params WHERE rn <= n_cells),
asn AS (
  SELECT e.vec_id, MIN({{'d': {sq_l2_sql('e.xm', 'c.cm')}, 'c': c.cell}})['c'] AS cell
  FROM e, cents c GROUP BY e.vec_id),
res AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, 1 + len(e.xm)), j -> e.xm[j] - c.cm[j]) AS rv
  FROM asn a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.cell = a.cell),
seeds AS (SELECT vec_id AS k, rv FROM res ORDER BY vec_id LIMIT {_PQ_K}),
codes AS (
  SELECT r.vec_id, r.cell,
         {code_aggs}
  FROM res r, seeds s, dims GROUP BY r.vec_id, r.cell),
qs AS ({_panel_sql('e', 'xm', 'qm')}),
pr AS (
  SELECT q.q_id, c.cell, c.cm,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
                            ORDER BY {sq_l2_sql('q.qm', 'c.cm')}, c.cell)
           AS pr_rank
  FROM qs q, cents c),
probes AS (
  SELECT p.q_id, p.cell,
         list_transform(range(1, 1 + len(q.qm)), j -> q.qm[j] - p.cm[j]) AS qr
  FROM pr p JOIN qs q ON q.q_id = p.q_id
  WHERE p.pr_rank <= (SELECT n_probe FROM params)),
luts AS (
  SELECT p.q_id, p.cell, s.k,
         {lut_cols}
  FROM probes p, seeds s, dims),
cand AS (
  SELECT p.q_id, c.vec_id AS neighbor_id, {adc} AS adc_raw
  FROM probes p
  JOIN codes c ON c.cell = p.cell
  {lut_joins}
  WHERE c.vec_id <> p.q_id),
ranked AS (
  SELECT q_id, neighbor_id, adc_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY adc_raw, neighbor_id) AS rank
  FROM cand)
SELECT q_id, neighbor_id, rank, ROUND(adc_raw / 1000000.0, 4) AS adc
FROM ranked WHERE rank <= {k} ORDER BY q_id, rank
"""


# --- q206: embedding-distribution drift via linear-kernel MMD ----------------
# Gretton et al. JMLR'12: MMD^2 with the linear kernel reduces to
# ||mean(A) - mean(B)||^2 — the O(n) two-sample test for EMBEDDING
# distributions, completing the drift family (q146 KL / q181 KS / q198 PSI
# cover scalar and categorical columns; this covers vector columns — "did
# the new crawl's embedding distribution move?").
#
# Determinism: each element quantizes to integer micro-units BEFORE any sum,
# so per-(group, dim) sums are exact integers under any partitioning; the
# per-dim mean difference is computed as (s_a/n_a - s_b/n_b)/1e6 in DOUBLES
# (long/long division, bit-identical IEEE in both engines). The double form
# is deliberate: the integer cross-product s_a*n_b overflows int64 once a
# label group holds ~1e6+ unit-norm vectors — Spark (ANSI off) would wrap
# silently while duckdb errors, a scale-path cross-engine divergence. The
# division is exact to ~1 ulp of the true mean (sums < 2^53 for groups up
# to ~8e9 vectors at micro-unit precision); each dim's squared term then
# quantizes to nano-units before the final integer sum.


def q206_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise linear-MMD^2 between every pair of label groups.

    Scale: ONE shuffle — posexplode is map-side, the (label, dim) partial
    aggregation absorbs the corpus with map-side combine, and everything
    after runs on the |labels|·dim dimension table (self-join on dim,
    45-pair output). No per-vector state survives the aggregation."""
    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        "label", F.posexplode(as_double_array(col("embedding"))).alias("pos", "val")
    )
    # Persist the (label, dim) aggregate — dimension-class — so the pair
    # self-join reads it twice without re-exploding the corpus.
    g = persist_tracked(
        e.groupBy("label", "pos").agg(
            F.sum(F.round(col("val") * lit(1e6)).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    a = g.select(
        col("label").alias("label_a"), "pos", col("s").alias("sa"), col("n").alias("na")
    )
    b = g.select(
        col("label").alias("label_b"),
        col("pos").alias("pos_b"),
        col("s").alias("sb"),
        col("n").alias("nb"),
    )
    # (sa/na - sb/nb)/1e6, NOT the cross-product (sa*nb - sb*na): see the
    # overflow note above — this form never leaves the exact-double range.
    d = (col("sa") / col("na") - col("sb") / col("nb")) / lit(1e6)
    return (
        a.join(b, (col("pos") == col("pos_b")) & (col("label_a") < col("label_b")))
        .select(
            "label_a", "label_b", "na", "nb",
            F.round(d * d * lit(1e9)).cast("long").alias("nano"),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.count("*").alias("dims"),
            F.round(F.sum("nano") / lit(1e9), 6).alias("mmd2"),
        )
        .orderBy("label_a", "label_b")
    )


_MMD_SQL = f"""
WITH e AS (
  SELECT label, i AS pos,
         CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1e6) AS BIGINT) AS micro
  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)),
g AS (
  SELECT label, pos, CAST(SUM(micro) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2),
p AS (
  SELECT a.label AS label_a, b.label AS label_b, a.n AS na, b.n AS nb,
         CAST(ROUND(
           ((a.s / a.n - b.s / b.n) / 1e6)
           * ((a.s / a.n - b.s / b.n) / 1e6) * 1e9) AS BIGINT)
           AS nano
  FROM g a JOIN g b ON a.pos = b.pos AND a.label < b.label)
SELECT label_a, label_b, MAX(na) AS n_a, MAX(nb) AS n_b,
       CAST(COUNT(*) AS BIGINT) AS dims,
       ROUND(SUM(nano) / 1e9, 6) AS mmd2
FROM p GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- q207: in-batch hard triplet mining --------------------------------------
# Schroff et al. CVPR'15 (FaceNet): metric-learning trains on triplets
# (anchor, hardest positive, hardest negative) mined WITHIN a mini-batch —
# global hardest-pair mining is O(n^2) and selects degenerate pairs, so
# in-batch mining IS the production semantics, and it is exactly what keeps
# this operator scale-bounded: all-pairs work is (batch size)^2 per batch,
# linear in corpus size for a fixed batch size.

_TRIPLET_BATCH = 32  # mini-batch size; batches = ceil(N / 32), data-derived


def triplet_mine(emb: DataFrame) -> DataFrame:
    """One row per anchor that has both a positive (same label) and a
    negative (other label) in its deterministic mini-batch: the hardest
    positive (LOWEST cosine — the pair the loss must pull together), the
    hardest negative (HIGHEST cosine — the pair it must push apart), and
    the hard flag (negative currently closer than the positive).

    Batch assignment is hash48(vec_id) mod ceil(N/32) — reproducible
    epoch-0 batching, the q143/q202 seedless discipline; the batch count
    derives from the data (embedding_dim pattern), never a fixture literal.

    Scale: one equi-join shuffle on the uniform batch key (pairs = 32·N
    rows), two row_number windows over (anchor, same) partitions bounded
    by the batch size, one groupBy(anchor). No global all-pairs anywhere."""
    # Persist the decoded projection FIRST: the count that sizes the batch
    # key then doubles as the cache materializer (no separate full scan),
    # and both legs of the batch self-join read the cached rows instead of
    # re-running the decode lineage twice.
    e = persist_tracked(
        spread(emb).select(
            "vec_id", "label", as_double_array(col("embedding")).alias("v")
        )
    )
    n_rows = e.count()  # plan-time scalar; also materializes the persist
    nb = max(1, -(-n_rows // _TRIPLET_BATCH))
    wb = e.withColumn("batch", F.pmod(hash48(col("vec_id").cast("string")), lit(nb)))
    a = wb.select(
        col("vec_id").alias("anchor"), col("label").alias("la"),
        col("v").alias("va"), "batch",
    )
    c = wb.select(
        col("vec_id").alias("b_id"), col("label").alias("lb"),
        col("v").alias("vb"), "batch",
    )
    pairs = (
        a.join(c, "batch")
        .where(col("anchor") != col("b_id"))
        .select(
            "anchor", "la", "b_id",
            (col("la") == col("lb")).alias("same"),
            cosine(col("va"), col("vb")).alias("cos_raw"),
        )
    )
    wp = Window.partitionBy("anchor", "same").orderBy(col("cos_raw").asc(), "b_id")
    wn = Window.partitionBy("anchor", "same").orderBy(col("cos_raw").desc(), "b_id")
    r = pairs.select(
        "*", F.row_number().over(wp).alias("rp"), F.row_number().over(wn).alias("rn")
    )
    g = (
        r.groupBy("anchor")
        .agg(
            F.max("la").alias("label"),
            F.max(F.when(col("same") & (col("rp") == 1), col("b_id"))).alias("pos_id"),
            F.max(F.when(col("same") & (col("rp") == 1), col("cos_raw"))).alias("pr"),
            F.max(F.when(~col("same") & (col("rn") == 1), col("b_id"))).alias("neg_id"),
            F.max(F.when(~col("same") & (col("rn") == 1), col("cos_raw"))).alias("nr"),
        )
        .where(col("pos_id").isNotNull() & col("neg_id").isNotNull())
    )
    return g.select(
        "anchor", "label", "pos_id", "neg_id",
        F.round("pr", 4).alias("cos_pos"),
        F.round("nr", 4).alias("cos_neg"),
        (col("nr") > col("pr")).cast("long").alias("hard"),
    ).orderBy("anchor")


def q207_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triplet_mine(load(spark, sf_dir, "embeddings"))


_TRIPLET_SQL = f"""
WITH e AS (SELECT vec_id, label, {as_double_array_sql('embedding')} AS v
           FROM embeddings),
nbt AS (SELECT GREATEST(CAST(CEIL(COUNT(*) / {_TRIPLET_BATCH}.0) AS BIGINT), 1)
          AS nb FROM e),
wb AS (SELECT vec_id, label, v,
              {hash48_sql('CAST(vec_id AS VARCHAR)')} % nbt.nb AS batch
       FROM e CROSS JOIN nbt),
pairs AS (
  SELECT a.vec_id AS anchor, a.label AS la, b.vec_id AS b_id,
         (a.label = b.label) AS same, {cosine_sql('a.v', 'b.v')} AS cos_raw
  FROM wb a JOIN wb b ON a.batch = b.batch AND a.vec_id <> b.vec_id),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY anchor, same
                            ORDER BY cos_raw ASC, b_id) AS rp,
         ROW_NUMBER() OVER (PARTITION BY anchor, same
                            ORDER BY cos_raw DESC, b_id) AS rn
  FROM pairs),
g AS (
  SELECT anchor, MAX(la) AS label,
         MAX(CASE WHEN same AND rp = 1 THEN b_id END) AS pos_id,
         MAX(CASE WHEN same AND rp = 1 THEN cos_raw END) AS pr,
         MAX(CASE WHEN NOT same AND rn = 1 THEN b_id END) AS neg_id,
         MAX(CASE WHEN NOT same AND rn = 1 THEN cos_raw END) AS nr
  FROM r GROUP BY anchor)
SELECT anchor, label, pos_id, neg_id,
       ROUND(pr, 4) AS cos_pos, ROUND(nr, 4) AS cos_neg,
       CAST(CASE WHEN nr > pr THEN 1 ELSE 0 END AS BIGINT) AS hard
FROM g WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL ORDER BY anchor
"""


# --- q229: cluster-balanced diversity selection ------------------------------
# The SemDeDup-pipeline companion (Abbas et al. '23 / DiverseSelect): after
# coarse clustering, keep a per-cluster quota of the MOST CENTRAL members —
# big clusters contribute sublinearly (quota = ceil(sqrt(size))), so the
# selected set preserves the corpus's mode coverage instead of letting one
# dense mode dominate. q123 removes redundancy WITHIN a cluster; this picks
# a diversity-balanced SUBSET across clusters — the selection rung between
# dedup (drop copies) and DSIR/RHO (score-ranked keep).


def q229_cluster_balanced_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, n_members, n_kept, mean_kept_d, kept_sum): grown-cells
    assignment (auto_cells seeds, q217b's milli-quantized integer metric
    — every distance and argmin is exact, assignment ONE numpy GEMM per
    Arrow batch), then keep the ceil(sqrt(occupancy)) members closest to
    their centroid (ties by vec_id). kept_sum is a hash48 checksum of the
    kept ids — any membership change shows.

    Scale: assignment is map-side GEMM (the 140.9×-vs-1.2× lesson from
    q217b's smoke); the only shuffle is the cell key; the per-cell window
    sorts ~sqrt(N) rows per cell — bounded, never a global sort. The
    quota rule makes output size Σ ceil(sqrt(n_c)) ≈ N^(3/4) — the
    selected sample grows sublinearly, which is the operator's point."""
    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb, _GEMM_SPREAD_BYTES).select("vec_id", as_double_array(col("embedding")).alias("v"))
    n = e.count()
    n_cells = auto_cells(n)
    seeds = sorted(
        (int(r.vec_id), list(r.v))
        for r in e.orderBy("vec_id").limit(n_cells).collect()
    )
    cell_ids, C, c_sq = _seed_matrix(seeds, quantize=True)

    asg = _gemm_assign(e, cell_ids, C, c_sq, "v", "d", quantize_input=True)
    wr = Window.partitionBy("cell").orderBy("d", "vec_id")
    wc = Window.partitionBy("cell")
    ranked = asg.select(
        "cell",
        "vec_id",
        "d",
        F.row_number().over(wr).alias("rnk"),
        F.count("*").over(wc).alias("sz"),
    ).withColumn("kept", col("rnk") <= F.ceil(F.sqrt(col("sz"))))
    return (
        ranked.groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(col("kept").cast("long")).alias("n_kept"),
            F.round(
                F.sum(F.when(col("kept"), col("d"))).cast("double")
                / F.sum(col("kept").cast("long"))
                / lit(1e6),
                4,
            ).alias("mean_kept_d"),
            F.sum(
                F.when(
                    col("kept"),
                    hash48(col("vec_id").cast("string")) % lit(1000003),
                )
            ).alias("kept_sum"),
        )
        .orderBy("cell")
    )


def _cluster_select_sql() -> str:
    """q229 mirror: the same milli-quantized integer assignment as
    q217b's oracle (cells/quota from COUNT(*); MIN(struct) argmin gives
    both the cell and the exact integer distance)."""
    return f"""
WITH e AS (SELECT vec_id,
             list_transform({as_double_array_sql('embedding')},
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS xm
      FROM embeddings),
params AS (
  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS n_cells FROM e),
cents AS (
  SELECT vec_id AS cell, xm AS cm
  FROM (SELECT vec_id, xm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
  CROSS JOIN params WHERE rn <= n_cells),
asn AS (
  SELECT e.vec_id,
         MIN({{'d': {sq_l2_sql('e.xm', 'c.cm')}, 'c': c.cell}})['c'] AS cell,
         MIN({{'d': {sq_l2_sql('e.xm', 'c.cm')}, 'c': c.cell}})['d'] AS d
  FROM e, cents c GROUP BY e.vec_id),
r AS (
  SELECT cell, vec_id, d,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rnk,
         COUNT(*) OVER (PARTITION BY cell) AS sz
  FROM asn),
k AS (SELECT *, rnk <= CEIL(SQRT(sz)) AS kept FROM r)
SELECT cell, COUNT(*) AS n_members,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN kept THEN d END) AS DOUBLE)
             / SUM(CASE WHEN kept THEN 1 ELSE 0 END) / 1e6, 4) AS mean_kept_d,
       CAST(SUM(CASE WHEN kept THEN
             {hash48_sql('CAST(vec_id AS VARCHAR)')} % 1000003 END) AS BIGINT)
         AS kept_sum
FROM k GROUP BY 1 ORDER BY 1
"""


# --- q237: incremental IVF index ingest (the vector twin of q120) ------------


def q237_incremental_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, n_standing, n_delta, growth_m, d_standing, d_delta): absorb
    a landing batch into an EXISTING IVF index — the maintenance
    operation a production vector store runs per ingest, and the vector
    twin of q120's incremental dedup: the standing corpus (vec_id % 10
    != 0, the at-rest index) defines the grown-cells geometry and
    centroids; the delta (vec_id % 10 == 0, the landing batch) is
    assigned against those FROZEN centroids. Per cell: standing/delta
    occupancy, the growth rate, and the mean assignment distance of each
    population — a delta whose d_delta runs consistently above
    d_standing is drifting off-centroid, the signal that schedules a
    re-train (the FAISS re-cluster heuristic).

    Determinism: q217b's milli-quantized integer metric — assignment
    argmins and distance sums are exact integers; the two mean
    distances divide once per cell.

    Scale: per-ingest cost is ONE GEMM assignment pass (both
    populations ride the same pass with a flag — the standing side is
    the audit baseline an index would already have materialized) and
    one cell-key groupBy; centroids are a √N×dim broadcast. The delta
    never joins the standing ROWS — only their per-cell aggregates."""
    emb = load(spark, sf_dir, "embeddings")
    e = spread(emb, _GEMM_SPREAD_BYTES).select("vec_id", as_double_array(col("embedding")).alias("v"))
    standing = e.where(col("vec_id") % 10 != 0)
    n = standing.count()
    n_cells = auto_cells(n)
    seeds = sorted(
        (int(r.vec_id), list(r.v))
        for r in standing.orderBy("vec_id").limit(n_cells).collect()
    )
    cell_ids, C, c_sq = _seed_matrix(seeds, quantize=True)

    asg = _gemm_assign(e, cell_ids, C, c_sq, "v", "d", quantize_input=True)
    is_d = (col("vec_id") % 10 == 0).cast("long")
    md = lambda s, c: F.round(s.cast("double") / c / lit(1e6), 4)  # noqa: E731
    # ns >= 1 in every emitted cell today (each cell contains its own
    # standing seed, which assigns to itself at d=0), but guard it like
    # nd anyway: if seeding/tiebreak ever changed, an unguarded 0 divisor
    # would yield NULL here and inf in duckdb — a silent engine
    # divergence (round-9 ADVICE).
    ns = F.sum(lit(1) - is_d)
    nd = F.sum(is_d)
    ns_g = F.when(ns > 0, ns)
    return (
        asg.groupBy("cell")
        .agg(
            ns.alias("n_standing"),
            nd.alias("n_delta"),
            F.round(lit(1000.0) * nd / ns_g, 3).alias("growth_m"),
            md(F.sum(F.when(is_d == 0, col("d"))), ns_g).alias("d_standing"),
            md(F.sum(F.when(is_d == 1, col("d"))), F.when(nd > 0, nd)).alias(
                "d_delta"
            ),
        )
        .orderBy("cell")
    )


def _incremental_ivf_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id,
             list_transform({as_double_array_sql('embedding')},
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS xm
      FROM embeddings),
standing AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
params AS (
  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS n_cells FROM standing),
cents AS (
  SELECT vec_id AS cell, xm AS cm
  FROM (SELECT vec_id, xm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM standing)
  CROSS JOIN params WHERE rn <= n_cells),
asn AS (
  SELECT e.vec_id,
         MIN({{'d': {sq_l2_sql('e.xm', 'c.cm')}, 'c': c.cell}})['c'] AS cell,
         MIN({{'d': {sq_l2_sql('e.xm', 'c.cm')}, 'c': c.cell}})['d'] AS d,
         CASE WHEN e.vec_id % 10 = 0 THEN 1 ELSE 0 END AS is_d
  FROM e, cents c GROUP BY e.vec_id)
SELECT cell,
       CAST(SUM(1 - is_d) AS BIGINT) AS n_standing,
       CAST(SUM(is_d) AS BIGINT) AS n_delta,
       ROUND(1000.0 * SUM(is_d)
             / (CASE WHEN SUM(1 - is_d) > 0 THEN SUM(1 - is_d) END), 3)
         AS growth_m,
       ROUND(CAST(SUM(CASE WHEN is_d = 0 THEN d END) AS DOUBLE)
             / (CASE WHEN SUM(1 - is_d) > 0 THEN SUM(1 - is_d) END) / 1e6, 4)
         AS d_standing,
       ROUND(CAST(SUM(CASE WHEN is_d = 1 THEN d END) AS DOUBLE)
             / (CASE WHEN SUM(is_d) > 0 THEN SUM(is_d) END) / 1e6, 4)
         AS d_delta
FROM asn GROUP BY 1 ORDER BY 1
"""


# --- q232: scalar-quantization (int8) recall audit ---------------------------


def q232_int8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, hits, recall_at_5): does q186's int8 absmax quantization
    preserve nearest neighbors? Exact 5-NN under the int8 codes vs exact
    5-NN under the full-precision milli metric (q222's ground truth,
    verbatim) for the pinned query set — the acceptance measurement for
    a 4×-compressed flat index, completing the audit family (q186
    answers "how much numeric error", q222 audits the IVF-PQ layers;
    this answers "does the ERROR change the ANSWERS").

    Determinism: per-dim scales are the corpus absmax / 127 (a dim-count
    row aggregate both engines compute identically); codes clamp to
    [-127, 127] via the q186 ROUND spelling; int8 distances are exact
    integer sums, milli distances exact integers — every rank boundary is
    tie-stable (vec_id tiebreak).

    Scale: the scale vector is a |dims|-row aggregate collected once
    (the centroid-literal convention); quantization is map-side; both
    5-NN passes are broadcast-query brute force — the deliberate exact
    baseline (the indexed path is q217b/q227), corpus scans stay
    single-pass with no shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    e = persist_tracked(
        spread(emb).select(
            "vec_id", as_double_array(col("embedding")).alias("v")
        )
    )
    scales = (
        e.select(F.posexplode("v").alias("p", "x"))
        .groupBy("p")
        .agg((F.greatest(F.max(F.abs(col("x"))), lit(1e-12)) / lit(127.0)).alias("s"))
        .orderBy("p")
        .collect()
    )
    S = F.array(*[lit(float(r.s)) for r in scales])
    q8 = F.zip_with(
        col("v"),
        S,
        lambda x, s: F.least(
            F.greatest(F.round(x / s), lit(-127.0)), lit(127.0)
        ).cast("long"),
    )
    xm = _milli(col("v"))
    coded = persist_tracked(e.select("vec_id", q8.alias("q8"), xm.alias("xm")))
    q = coded.where(col("vec_id").isin(*_AUDIT_PANEL)).select(
        col("vec_id").alias("q_id"),
        col("q8").alias("qq8"),
        col("xm").alias("qm"),
    )
    pairs = coded.crossJoin(broadcast(q)).where(col("vec_id") != col("q_id"))
    w8 = Window.partitionBy("q_id").orderBy(col("d8"), col("neighbor_id"))
    wm = Window.partitionBy("q_id").orderBy(col("dm"), col("neighbor_id"))
    ranked = pairs.select(
        "q_id",
        col("vec_id").alias("neighbor_id"),
        sq_l2(col("q8"), col("qq8")).alias("d8"),
        sq_l2(col("xm"), col("qm")).alias("dm"),
    ).select(
        "q_id",
        "neighbor_id",
        F.row_number().over(w8).alias("r8"),
        F.row_number().over(wm).alias("rm"),
    )
    return (
        ranked.groupBy("q_id")
        .agg(
            F.sum(((col("r8") <= 5) & (col("rm") <= 5)).cast("long")).alias(
                "hits"
            ),
            F.round(
                F.sum(((col("r8") <= 5) & (col("rm") <= 5)).cast("long"))
                / lit(5.0),
                4,
            ).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


def _int8_recall_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v
           FROM embeddings),
ex AS (SELECT vec_id, generate_subscripts(v, 1) AS p, unnest(v) AS x FROM e),
sc AS (SELECT p, GREATEST(MAX(ABS(x)), 1e-12) / 127.0 AS s
       FROM ex GROUP BY 1),
sl AS (SELECT list(s ORDER BY p) AS sv FROM sc),
coded AS (
  SELECT vec_id,
         list_transform(range(1, 1 + len(v)),
           j -> CAST(LEAST(GREATEST(ROUND(v[j] / sv[j]), -127.0), 127.0)
                     AS BIGINT)) AS q8,
         list_transform(v, x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS xm
  FROM e CROSS JOIN sl),
qs AS (SELECT vec_id AS q_id, q8 AS qq8, xm AS qm
       FROM coded WHERE vec_id IN {_AUDIT_PANEL}),
pairs AS (
  SELECT q.q_id, c.vec_id AS neighbor_id,
         {sq_l2_sql('c.q8', 'q.qq8')} AS d8,
         {sq_l2_sql('c.xm', 'q.qm')} AS dm
  FROM coded c CROSS JOIN qs q WHERE c.vec_id <> q.q_id),
ranked AS (
  SELECT q_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d8, neighbor_id) AS r8,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dm, neighbor_id) AS rm
  FROM pairs)
SELECT q_id,
       CAST(SUM(CASE WHEN r8 <= 5 AND rm <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits,
       ROUND(SUM(CASE WHEN r8 <= 5 AND rm <= 5 THEN 1 ELSE 0 END) / 5.0, 4)
         AS recall_at_5
FROM ranked GROUP BY 1 ORDER BY 1
"""


ORACLES = {
    "q212_embedding_gram": _GRAM_SQL,
    "q229_cluster_balanced_select": _cluster_select_sql(),
    "q232_int8_recall_audit": _int8_recall_sql(),
    "q237_incremental_ivf_ingest": _incremental_ivf_sql(),
    "q217_ivfpq_ann": _ivfpq_sql(),
    "q217b_ivfpq_ann_scaled": _ivfpq_grown_sql(),
    "q222_ann_recall_audit": _ann_recall_sql(),
    "q218_pca_power": _pca_power_sql(),
    "q206_mmd_drift": _MMD_SQL,
    "q207_triplet_mining": _TRIPLET_SQL,
    "q85_pq_ann": _pq_sql(),
    "q50_knn_exact": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
t AS (SELECT v AS tv FROM e WHERE vec_id = 1)
SELECT e.vec_id, ROUND({sq_l2_sql('e.v', 't.tv')}, 4) AS dist
FROM e, t WHERE e.vec_id <> 1
ORDER BY dist, vec_id LIMIT 5
""",
    "q51_topk_per_query": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
cand AS (
  SELECT q.q_id, e.vec_id, {cosine_sql('e.v', 'q.qv')} AS cos_raw
  FROM e, q WHERE e.vec_id <> q.q_id),
ranked AS (
  SELECT q_id, vec_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM cand)
SELECT q_id, vec_id AS neighbor_id, rank, ROUND(cos_raw, 4) AS cos
FROM ranked WHERE rank <= 5 ORDER BY q_id, rank
""",
    "q52_lsh_ann": _lsh_sql(),
    "q163_mutual_ann": _mutual_ann_sql(),
    "q163b_mutual_ann_scaled": _mutual_ann_sql(n_planes=_GROWN_PLANES),
    "q171_random_projection": _random_projection_sql(),
    "q114_lsh_multiprobe": _lsh_multiprobe_sql(),
    "q114b_multiprobe_scaled": _lsh_multiprobe_sql(n_planes=_GROWN_PLANES),
    # IVF mirror: assignment/probing argmins use ROW_NUMBER ordered by
    # (dist, cell) — the same (d, c) lexicographic order as Spark's
    # array_min/array_sort over structs.
    "q53_ivf_ann": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}),
a AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c.cv')}, c.cell) AS rn
    FROM e, c) t WHERE rn = 1),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN {_AUDIT_PANEL}),
p AS (
  SELECT q_id, qv, cell FROM (
    SELECT q.q_id, q.qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY {sq_l2_sql('q.qv', 'c.cv')}, c.cell) AS rn
    FROM q, c) t WHERE rn <= {_IVF_PROBE}),
cand AS (
  SELECT p.q_id, a.vec_id AS neighbor_id, {sq_l2_sql('a.v', 'p.qv')} AS dist_raw
  FROM p JOIN a ON a.cell = p.cell WHERE a.vec_id <> p.q_id),
ranked AS (
  SELECT q_id, neighbor_id, dist_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist_raw, neighbor_id) AS rank
  FROM cand)
SELECT q_id, neighbor_id, rank, ROUND(dist_raw, 4) AS dist
FROM ranked WHERE rank <= 5 ORDER BY q_id, rank
""",
    # SemDeDup mirror: same e/c/a assignment CTEs as the IVF oracles, then
    # the within-cell greedy-by-id pair check.
    "q123_semantic_dedup": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}),
a AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c.cv')}, c.cell) AS rn
    FROM e, c) t WHERE rn = 1),
dups AS (
  SELECT DISTINCT y.cell, y.vec_id
  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE ROUND({cosine_sql('x.v', 'y.v')}, 4) >= {_SEM_T}),
d AS (SELECT cell, COUNT(*) AS n_dups FROM dups GROUP BY 1),
m AS (SELECT cell, COUNT(*) AS n_members FROM a GROUP BY 1)
SELECT m.cell, m.n_members, COALESCE(d.n_dups, 0) AS n_dups,
       ROUND(1.0 - COALESCE(d.n_dups, 0) / CAST(m.n_members AS DOUBLE), 4) AS keep_rate
FROM m LEFT JOIN d USING (cell) ORDER BY cell
""",
    "q59_label_centroids": f"""
WITH e AS (SELECT label, {as_double_array_sql('embedding')} AS v FROM embeddings)
SELECT label, i, COUNT(*) AS n_members, ROUND(AVG(v[i]), 4) AS mean_x
FROM e, UNNEST(range(1, len(v) + 1)) AS t(i)
GROUP BY label, i ORDER BY label, i
""",
    "q69_doc_vec_join": f"""
WITH n AS (SELECT vec_id,
                  sqrt({dot_sql(as_double_array_sql('embedding'), as_double_array_sql('embedding'))}) AS nrm
           FROM embeddings)
SELECT source, COUNT(*) AS n, ROUND(AVG(nrm), 4) AS avg_norm,
       ROUND(AVG(n_chars), 2) AS avg_chars
FROM documents d JOIN n ON d.doc_id = n.vec_id
GROUP BY 1 ORDER BY 1
""",
    # Two unrolled Lloyd rounds; the rounded means of round 1 are the exact
    # centroid values round 2 assigns against in both engines.
    "q54b_kmeans_iter2": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
c0 AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}),
a1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c0.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c0.cv')}, c0.cell) AS rn
    FROM e, c0) t WHERE rn = 1),
c1 AS (
  SELECT cell, i, ROUND(AVG(v[i]), 4) AS mean_x
  FROM a1, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY cell, i),
c1v AS (SELECT cell, list(mean_x ORDER BY i) AS cv FROM c1 GROUP BY cell),
a2 AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c1v.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c1v.cv')}, c1v.cell) AS rn
    FROM e, c1v) t WHERE rn = 1)
SELECT cell, i, COUNT(*) AS n_members, ROUND(AVG(v[i]), 4) AS mean_x
FROM a2, UNNEST(range(1, len(v) + 1)) AS t(i)
GROUP BY cell, i ORDER BY cell, i
""",
    "q54_kmeans_step": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}),
a AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c.cv')}, c.cell) AS rn
    FROM e, c) t WHERE rn = 1)
SELECT cell, i, COUNT(*) AS n_members, ROUND(AVG(v[i]), 4) AS mean_x
FROM a, UNNEST(range(1, len(v) + 1)) AS t(i)
GROUP BY cell, i ORDER BY cell, i
""",
    # Two unrolled Lloyd rounds (the q54b convention: round-1/round-2 means
    # ROUND(4) so both engines assign against bit-identical centroids),
    # then per-variant assignment + probe + exact-top5 hit counting.
    "q238_ivf_trained_recall": f"""
WITH e AS (SELECT vec_id, {as_double_array_sql('embedding')} AS v FROM embeddings),
c0 AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}),
a1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c0.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c0.cv')}, c0.cell) AS rn
    FROM e, c0) t WHERE rn = 1),
c1 AS (
  SELECT cell, list(mean_x ORDER BY i) AS cv FROM (
    SELECT cell, i, ROUND(AVG(v[i]), 4) AS mean_x
    FROM a1, UNNEST(range(1, len(v) + 1)) AS t(i) GROUP BY cell, i)
  GROUP BY cell),
a2 AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c1.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c1.cv')}, c1.cell) AS rn
    FROM e, c1) t WHERE rn = 1),
c2 AS (
  SELECT cell, list(mean_x ORDER BY i) AS cv FROM (
    SELECT cell, i, ROUND(AVG(v[i]), 4) AS mean_x
    FROM a2, UNNEST(range(1, len(v) + 1)) AS t(i) GROUP BY cell, i)
  GROUP BY cell),
qs AS ({_panel_sql('e', 'v', 'qv')}),
ex AS ({_exact_topk_sql('e', 'v', 'qv')}),
asn_t AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c2.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {sq_l2_sql('e.v', 'c2.cv')}, c2.cell) AS rn
    FROM e, c2) t WHERE rn = 1),
pr_s AS ({_probes_sql('c0', 'qv', 'cv', _IVF_PROBE)}),
pr_t AS ({_probes_sql('c2', 'qv', 'cv', _IVF_PROBE)}),
h_s AS ({_cand_hits_sql('a1', 'pr_s')}),
h_t AS ({_cand_hits_sql('asn_t', 'pr_t')})
{_variant_recall_sql('h_s', 'h_t')}
""",
}

# Evaluate-once CTE pinning (see functions.materialize_ctes): the PQ /
# IVF-PQ oracles reference the encoded-codes and seed CTEs once per
# subspace (8x), and the 2-step k-means oracle its assignment CTE per
# step (q85 measured 6.6 s -> 4.7 s, q217 4.4 s -> 3.3 s at sf0.1).
from ..functions import materialize_ctes as _mat

ORACLES["q240_pq_trained_recall"] = _pq_trained_sql()


def _ivf_trained_grown_sql() -> str:
    """q242 mirror: grown-geometry (params CTE = auto_cells/auto_probe
    integer twins) seeded-vs-trained candidate recall with two unrolled
    integer-milli Lloyd rounds — centroid means re-quantize via
    FLOOR(CAST(SUM AS DOUBLE)/COUNT + 0.5) (q240's convention), so every
    distance, assignment argmin, and probe rank is an exact integer both
    engines order identically."""

    def asn(src: str, cents: str) -> str:
        return (
            f"SELECT e.vec_id, MIN({{'d': {sq_l2_sql('e.xm', f'{cents}.cm')},"
            f" 'c': {cents}.cell}})['c'] AS cell"
            f" FROM e, {cents} GROUP BY e.vec_id"
        )

    def means(asn_cte: str) -> str:
        return f"""
  SELECT cell, list(v ORDER BY i) AS cm FROM (
    SELECT a.cell, t.i,
           CAST(FLOOR(CAST(SUM(e.xm[i]) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS v
    FROM {asn_cte} a JOIN e USING (vec_id),
         UNNEST(range(1, len(e.xm) + 1)) AS t(i)
    GROUP BY a.cell, t.i) GROUP BY cell"""

    return f"""
WITH e AS ({_milli_sql()}),
params AS ({_grown_params_sql('e')}),
c0 AS (
  SELECT vec_id AS cell, xm AS cm
  FROM (SELECT vec_id, xm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
  CROSS JOIN params WHERE rn <= n_cells),
a1 AS ({asn('e', 'c0')}),
c1 AS ({means('a1')}),
a2 AS ({asn('e', 'c1')}),
c2 AS ({means('a2')}),
a3 AS ({asn('e', 'c2')}),
qs AS ({_panel_sql('e', 'xm', 'qm')}),
ex AS ({_exact_topk_sql('e', 'xm', 'qm')}),
pr_s AS ({_probes_sql('c0', 'qm', 'cm', '(SELECT n_probe FROM params)')}),
pr_t AS ({_probes_sql('c2', 'qm', 'cm', '(SELECT n_probe FROM params)')}),
h_s AS ({_cand_hits_sql('a1', 'pr_s')}),
h_t AS ({_cand_hits_sql('a3', 'pr_t')})
{_variant_recall_sql('h_s', 'h_t')}
"""


ORACLES["q242_ivf_trained_grown_recall"] = _ivf_trained_grown_sql()

for _k in ("q85_pq_ann", "q217_ivfpq_ann", "q217b_ivfpq_ann_scaled",
           "q222_ann_recall_audit", "q54b_kmeans_iter2",
           "q238_ivf_trained_recall", "q240_pq_trained_recall",
           "q242_ivf_trained_grown_recall"):
    ORACLES[_k] = _mat(ORACLES[_k])

ORACLES["q226_pca_project"] = _pca_project_sql()
ORACLES["q227_reduced_ivf_recall"] = _reduced_recall_sql()

QUERIES = {
    "q212_embedding_gram": q212_embedding_gram,
    "q226_pca_project": q226_pca_project,
    "q227_reduced_ivf_recall": q227_reduced_ivf_recall,
    "q217_ivfpq_ann": q217_ivfpq_ann,
    "q217b_ivfpq_ann_scaled": q217b_ivfpq_ann_scaled,
    "q222_ann_recall_audit": q222_ann_recall_audit,
    "q218_pca_power": q218_pca_power,
    "q206_mmd_drift": q206_mmd_drift,
    "q207_triplet_mining": q207_triplet_mining,
    "q50_knn_exact": q50_knn_exact,
    "q51_topk_per_query": q51_topk_per_query,
    "q52_lsh_ann": q52_lsh_ann,
    "q163_mutual_ann": q163_mutual_ann,
    "q163b_mutual_ann_scaled": q163b_mutual_ann_scaled,
    "q171_random_projection": q171_random_projection,
    "q114_lsh_multiprobe": q114_lsh_multiprobe,
    "q114b_multiprobe_scaled": q114b_multiprobe_scaled,
    "q53_ivf_ann": q53_ivf_ann,
    "q54_kmeans_step": q54_kmeans_step,
    "q54b_kmeans_iter2": q54b_kmeans_iter2,
    "q238_ivf_trained_recall": q238_ivf_trained_recall,
    "q240_pq_trained_recall": q240_pq_trained_recall,
    "q242_ivf_trained_grown_recall": q242_ivf_trained_grown_recall,
    "q85_pq_ann": q85_pq_ann,
    "q59_label_centroids": q59_label_centroids,
    "q69_doc_vec_join": q69_doc_vec_join,
    "q123_semantic_dedup": q123_semantic_dedup,
    "q51b_matmul_knn": q51b_matmul_knn,
    "q229_cluster_balanced_select": q229_cluster_balanced_select,
    "q232_int8_recall_audit": q232_int8_recall_audit,
    "q237_incremental_ivf_ingest": q237_incremental_ivf_ingest,
}

# q51b shares q51's oracle verbatim: same semantics, different physical plan.
ORACLES["q51b_matmul_knn"] = ORACLES["q51_topk_per_query"]
