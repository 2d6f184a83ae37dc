"""Vector similarity search over an ``array<float>`` embedding column
(SURVEY.md §2.9).

- brute-force cosine top-k: the exact baseline.  Query set × candidate set
  cross join with the *query side broadcast* (queries are small; candidates
  never shuffle), dot/norm as sequential folds over the array — built-in
  higher-order functions, JVM-side, deterministic summation order (index
  order), so results are reproducible bit-for-bit.
- LSH-bucketed ANN: random-hyperplane (BucketedRandomProjectionLSH) scale
  path — candidates come from hash-bucket joins instead of the cross join.
- IVF-style ANN: k-means-ish coarse quantizer (seeded) + per-cell search:
  assign every vector to its nearest of ``n_cells`` sampled centroids, then
  search only the query's ``n_probe`` nearest cells.

At 100 TB: brute force is O(Q×N) — usable only for small Q (broadcast side);
the LSH/IVF variants turn that into bucket-local joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..localrel import values_relation


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _sq_l2(a, b):
    """Squared L2 distance: fold over the zipped arrays.  SHARED by every
    IVF/PQ path here and by the persisted index (vector_index.py) — the
    bit-identical-results guarantee between them depends on this being the
    single definition."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _block_slices(n_blocks: int):
    """PQ block decomposition of a double-array column named ``v``: an array
    of (block, bv) structs, one contiguous sub-vector per block.  Shared with
    vector_index.py for the same determinism reason as :func:`_sq_l2`."""
    sub = f"(size(v) div {n_blocks})"
    return F.expr(
        f"transform(sequence(0, {n_blocks} - 1), "
        f"b -> struct(b AS block, slice(v, cast(b * {sub} + 1 as int), cast({sub} as int)) AS bv))"
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query among ``embeddings``.

    Returns (query_id, neighbor_id, rank, cosine) with rank fully tie-broken
    by neighbor id.  The query side is broadcast: the big candidate relation
    is scanned once, never shuffled.
    """
    # norms bound per SIDE, not per pair: computed once per vector instead of
    # once per (query, candidate) combination
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# Oracle: DuckDB's list_cosine_similarity may differ from our fold in the
# last ulp, so the checked output is the *ranking* (ids + rank), not the
# float itself — identical unless two candidates tie within ~1e-13.
COSINE_TOPK_SQL_TEMPLATE = """
SELECT query_id, neighbor_id, rank
FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                        c.vec_id ASC) AS BIGINT) AS rank
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
) t
WHERE rank <= {k}
"""


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-projection LSH on L2-normalized vectors
    (cosine ~ euclidean on the unit sphere).  Candidates from bucket joins."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    def normed(df, out_id):
        # bind the norm in its own projection: referenced inside the
        # transform lambda it would be re-aggregated once PER ELEMENT
        # (higher-order-function bodies are interpreted per element)
        base = df.select(
            F.col(id_col).alias(out_id),
            _as_double(F.col(vec_col)).alias("_v"),
        ).withColumn("_n", _norm(F.col("_v")))
        unit = F.transform(F.col("_v"), lambda x: x / F.col("_n"))
        return base.select(out_id, array_to_vector(unit).alias("features"))

    cand = normed(embeddings, "neighbor_id")
    qs = normed(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cand)
    # euclidean distance on unit vectors: d^2 = 2 - 2*cos  ->  threshold 2.0
    # covers all cos >= -1; recall governed by hash tables, not the cutoff.
    joined = model.approxSimilarityJoin(qs, cand, 2.0, distCol="dist")
    pairs = joined.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        F.col("dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _srp_planes(nbits: int, dims: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic ±1 sign-random-projection planes from md5 parity.

    Computed ONCE here (driver-side, tiny: nbits × dims ints) and embedded
    as literals in BOTH the Spark plan and the SQL oracle, so the two
    engines replay the identical hyperplanes without either having to
    re-derive md5 at query time."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{t}:{d}".encode()).hexdigest()[0] < "8"
            else -1
            for d in range(dims)
        ]
        for t in range(nbits)
    ]


def srp_band_keys(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 16,
    bands: int = 4,
    dims: int = 64,
    seed: str = "srp",
) -> DataFrame:
    """(id, bidx, bk) band rows for sign-random-projection LSH.

    The embedding is quantized to int64 (``FLOOR(x * 1e6)``) BEFORE the
    projection, so every projection is an exact integer sum — its sign is
    order-independent and bit-identical across engines, killing the
    float-summation-order hazard that makes naive SRP unreproducible.
    One narrow pass: signature bits in a single projection, band keys via
    ``posexplode`` (no per-band rescan of the input).

    At 100 TB: this is a shuffle-free map — only (id, bidx, bk) rows
    (24 bytes) ever reach the candidate self-join's exchange; the vectors
    themselves never ride a shuffle until the final rerank join, which is
    candidate-bounded.
    """
    if nbits % bands:
        raise ValueError("nbits must be divisible by bands")
    r = nbits // bands
    planes = _srp_planes(nbits, dims, seed)
    # ONE nested higher-order expression for all nbits projections instead
    # of nbits separate fold columns: HOF bodies are interpreted either way,
    # but a single expression tree keeps plan compile/codegen cost flat in
    # nbits (the 16-column variant paid ~6 s of cold-start analysis)
    planes_sql = "array({})".format(
        ", ".join("array({})".format(", ".join(map(str, row))) for row in planes)
    )
    vq = F.transform(
        _as_double(F.col(vec_col)), lambda x: F.floor(x * F.lit(1_000_000.0))
    )
    base = df.select(F.col(id_col).alias("_id"), vq.alias("_vq"))
    bits = F.expr(
        f"transform({planes_sql}, p -> IF("
        "aggregate(zip_with(_vq, p, (x, s) -> x * CAST(s AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, x) -> a + x) >= 0, 1, 0))"
    )
    band_keys = F.expr(
        f"transform(sequence(0, {bands - 1}), b -> "
        f"aggregate(sequence(0, {r - 1}), CAST(0 AS BIGINT), "
        f"(a, j) -> a + CAST(_bits[b * {r} + j] AS BIGINT) * shiftleft(CAST(1 AS BIGINT), j)))"
    )
    return (
        base.select("_id", bits.alias("_bits"))
        .select(
            F.col("_id").alias(id_col),
            F.posexplode(band_keys).alias("bidx", "bk"),
        )
    )


def cosine_topk_srp(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 16,
    bands: int = 4,
    dims: int = 64,
    seed: str = "srp",
) -> DataFrame:
    """ANN cosine top-k via DETERMINISTIC sign-random-projection LSH:
    band-bucket candidate join, then exact cosine rerank among candidates.

    Unlike :func:`cosine_topk_lsh` (Spark ML's seeded Gaussian projections,
    irreproducible outside the JVM), the hyperplanes here are md5-derived
    literals and the projections exact integer sums — the WHOLE pipeline
    (signatures, banding, candidates, rerank) replays in ANSI SQL, so the
    approximate result itself sits behind the value-hash correctness gate
    (:func:`cosine_topk_srp_sql`).  Same output contract as the brute-force
    baseline: (query_id, neighbor_id, rank), rank fully tie-broken.
    """
    cand_bands = srp_band_keys(embeddings, id_col, vec_col, nbits, bands, dims, seed)
    q_bands = srp_band_keys(queries, id_col, vec_col, nbits, bands, dims, seed)
    pairs = (
        q_bands.select(F.col(id_col).alias("query_id"), "bidx", "bk")
        .join(
            cand_bands.select(F.col(id_col).alias("neighbor_id"), "bidx", "bk"),
            ["bidx", "bk"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = (
        pairs.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_topk_srp_sql(
    num_queries: int,
    k: int = 5,
    nbits: int = 16,
    bands: int = 4,
    dims: int = 64,
    seed: str = "srp",
) -> str:
    """DuckDB replay of :func:`cosine_topk_srp` — identical plane literals,
    identical int64 quantization, rank-only output (the float cosine stays
    internal to the ORDER BY, same ulp posture as COSINE_TOPK_SQL_TEMPLATE)."""
    r = nbits // bands
    planes = _srp_planes(nbits, dims, seed)
    plane_rows = ",\n        ".join(
        f"({t}, {planes[t]})" for t in range(nbits)
    )
    return f"""
WITH vq AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
    FROM embeddings
),
planes(t, sv) AS (VALUES
        {plane_rows}),
proj AS (
    SELECT vq.vec_id, p.t,
           CASE WHEN list_sum(list_transform(range(1, {dims + 1}),
                    d -> vq.v[d] * p.sv[d])) >= 0 THEN 1 ELSE 0 END AS bit
    FROM vq CROSS JOIN planes p
),
bandkeys AS (
    SELECT vec_id, t // {r} AS bidx,
           CAST(SUM(bit * (1 << (t % {r}))) AS BIGINT) AS bk
    FROM proj GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM bandkeys q JOIN bandkeys c ON q.bidx = c.bidx AND q.bk = c.bk
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
),
ranked AS (
    SELECT cand.query_id, cand.neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY cand.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                        cand.neighbor_id ASC) AS BIGINT) AS rank
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.

    Distributed block-matrix design (no driver-side materialization): rows
    are hash-assigned to ``n_blocks`` row blocks; every block pair (i <= j)
    becomes one ``applyInPandas`` group holding the two blocks, and the group
    kernel computes the (block x block) similarity tile with one BLAS gemm,
    emitting only the above-threshold (id_a < id_b) pairs.  One shuffle of
    ~n_blocks x the input (each row lands in n_blocks tiles); no collect, no
    driver broadcast, so the corpus never has to fit on one machine — size
    n_blocks so a single block fits an executor task.  Exact all-pairs is
    inherently quadratic; at 100 TB route through ``semantic_dedup_pairs``
    (IVF-cell blocking) or LSH and use this as the exact kernel inside a
    bounded block.  Output carries only the pair ids (floats stay
    engine-internal so the oracle compare is ulp-proof).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    n_blocks = 4

    spark = embeddings.sparkSession
    # Zero-length vectors have no geometry and would make the kernel's
    # np.stack ragged (a crash, found by the degenerate-input sweep) —
    # filter them in-plan so the predicate pushes to the scan.  Wrong-DIM
    # non-empty vectors remain a column-contract violation (see
    # embedding_dim_stats for the audit query).
    vecs = embeddings.filter(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # tile index (bi <= bj) as a LocalRelation-backed range, not a Python list
    r1 = spark.range(n_blocks).select(F.col("id").alias("bi"))
    r2 = spark.range(n_blocks).select(F.col("id").alias("bj"))
    tiles = r1.join(r2, F.col("bi") <= F.col("bj"))

    lhs = vecs.join(F.broadcast(tiles), vecs.blk == tiles.bi).select(
        "bi", "bj", "_id", "v", F.lit(0).alias("side")
    )
    rhs = vecs.join(
        F.broadcast(tiles), (vecs.blk == tiles.bj) & (tiles.bi != tiles.bj)
    ).select("bi", "bj", "_id", "v", F.lit(1).alias("side"))

    out_schema = StructType(
        [StructField("id_a", LongType(), False), StructField("id_b", LongType(), False)]
    )

    def _norm(pdf: pd.DataFrame):
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return ids, mat

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        empty = pd.DataFrame({"id_a": pd.array([], dtype="int64"),
                              "id_b": pd.array([], dtype="int64")})
        if bi == bj:
            part = pdf[pdf["side"] == 0]
            if part.empty:
                return empty
            ids_a, a = _norm(part)
            ids_b, b = ids_a, a
        else:
            pl, pr = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
            if pl.empty or pr.empty:
                return empty
            ids_a, a = _norm(pl)
            ids_b, b = _norm(pr)
        sims = a @ b.T
        li, ri = np.nonzero(sims >= threshold)
        id_a, id_b = ids_a[li], ids_b[ri]
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        keep = lo < hi  # drops self-pairs on the diagonal tile
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]}).drop_duplicates()

    return (
        lhs.unionByName(rhs)
        .groupBy("bi", "bj")
        .applyInPandas(kernel, schema=out_schema)
        .select("id_a", "id_b")
    )


EMBEDDING_NEARDUP_SQL_TEMPLATE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE LEN(a.embedding) > 0 AND LEN(b.embedding) > 0
  AND list_cosine_similarity(a.embedding, b.embedding) >= {threshold}
"""


# Oracle for ivf_assign: same argmin with distances rounded to 6 dp before
# the comparison so cross-engine float-summation-order noise (<=1e-12) can't
# flip the winner; ties broken by cell asc in both engines.
IVF_ASSIGN_SQL_TEMPLATE = """
WITH cents AS (
    SELECT vec_id AS cell, embedding AS centroid FROM embeddings
    WHERE vec_id < {n_cells}
),
scored AS (
    SELECT v.vec_id, c.cell,
           ROUND(list_distance(v.embedding, c.centroid) ** 2, 6) AS d2
    FROM embeddings v CROSS JOIN cents c
),
ranked AS (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
    FROM scored
)
SELECT vec_id, cell FROM ranked WHERE rn = 1
"""


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: centroids = deterministic sample of the data
    (ids 0..n_cells-1 — fine for synthetic uniform data; a k-means refinement
    would slot in here), assignment = argmin L2 via a broadcast join.

    Returns (vec_id, cell).  The partitioning this induces is the scale
    lever: searches probe only a few cells instead of the full corpus.
    """
    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("centroid")
    )
    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    d2 = _sq_l2(F.col("v"), F.col("centroid"))
    # round to 6 dp before the argmin so float-summation-order noise across
    # engines can't flip the winner (ties then break by cell asc).
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        id_col, "cell", F.round(d2, 6).alias("d2")
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("d2"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cell")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to coarse cells (ivf_assign),
    pick each query's ``n_probe`` nearest cells, and run the exact cosine
    kernel only inside those cells.  The join is (query x probed-cell) ->
    candidates co-partitioned by cell — the corpus is never fully scanned per
    query, which is the scale path vs brute force.  Approximate in RECALL
    (n_probe/n_cells), but fully deterministic: probe selection rounds d2
    to 6 dp (ties break by cell) like :func:`ivf_assign`, and the final
    ranking carries the same float-cosine rank-only caveat as the brute
    oracle — so the whole pipeline is oracle-checkable.
    """
    assign = ivf_assign(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("centroid")
    )
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    d2 = F.round(_sq_l2(F.col("qv"), F.col("centroid")), 6)
    qcells = q.crossJoin(F.broadcast(cents)).select("query_id", "qv", "cell", d2.alias("d2"))
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = qcells.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") <= n_probe)

    cand = embeddings.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"), "cell"
    )
    pairs = probed.join(cand, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


IVF_TOPK_SQL_TEMPLATE = """
WITH assign AS ({ivf_assign}),
cents AS (
    SELECT vec_id AS cell, embedding AS centroid FROM embeddings
    WHERE vec_id < {n_cells}
),
qcells AS (
    SELECT q.vec_id AS query_id, c.cell,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_distance(q.embedding, c.centroid) ** 2, 6) ASC,
                        c.cell ASC) AS rn
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {num_queries}
),
probed AS (SELECT query_id, cell FROM qcells WHERE rn <= {n_probe}),
scored AS (
    SELECT p.query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding, e.embedding) AS cosine
    FROM probed p
    JOIN assign a ON a.cell = p.cell
    JOIN embeddings e ON e.vec_id = a.vec_id
    JOIN embeddings q ON q.vec_id = p.query_id
    WHERE e.vec_id != p.query_id
)
SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
           ) AS BIGINT) AS rank
    FROM scored
) r WHERE rank <= {k}
"""


def semantic_dedup_pairs(
    embeddings: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicates (Abbas et al. 2023): cluster
    with the IVF coarse quantizer, then compute exact cosine ONLY within each
    cell.  Returns (id_a, id_b, cell), id_a < id_b, cosine >= threshold.

    The scale story vs :func:`embedding_neardup_pairs`: the self-join is
    keyed on ``cell``, so both sides shuffle once by cell and the quadratic
    kernel runs per-cell (N^2/C work for C balanced cells), never across the
    whole corpus.  Approximate only in that cross-cell duplicates are missed
    — the SemDeDup trade.  Exact and deterministic within cells, so
    oracle-checkable end-to-end.

    The lazy self-join evaluates the assignment subtree once per side;
    that is deliberate — assignment is a linear broadcast pass, negligible
    next to the per-cell quadratic kernel, and staying lazy keeps the whole
    plan visible to Catalyst/AQE (vs. a persist() barrier).
    """
    assign = ivf_assign(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    unit_v = F.col("v")
    vecs = (
        embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        .join(assign, id_col)
    )
    a = vecs.select(F.col(id_col).alias("id_a"), unit_v.alias("va"), "cell")
    b = vecs.select(F.col(id_col).alias("id_b"), unit_v.alias("vb"), "cell")
    pairs = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return pairs.filter(cos >= threshold).select("id_a", "id_b", "cell")


SEMDEDUP_SQL_TEMPLATE = """
WITH assign AS ({ivf_assign})
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ca.cell AS cell
FROM embeddings a
JOIN assign ca ON a.vec_id = ca.vec_id
JOIN assign cb ON ca.cell = cb.cell
JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= {threshold}
"""


def pq_encode(
    embeddings: DataFrame,
    n_blocks: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011): split each vector
    into ``n_blocks`` sub-vectors and store only the id of the nearest of
    ``n_codes`` per-block centroids — the 100 TB ANN memory lever
    (64 float32 dims -> 4 uint8-sized codes here).

    Codebooks are deterministic data samples per block (ids < n_codes; a
    per-block k-means refinement would slot in, as in ivf_assign).  Long-form
    output (vec_id, block, code); one explode (narrow), one broadcast of the
    tiny codebook, one windowed argmin per (vec, block) — no corpus shuffle
    except the argmin's, keyed by the high-cardinality (vec_id, block).
    """
    block_slices = _block_slices(n_blocks)
    vecs = (
        embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        .select(id_col, F.explode(block_slices).alias("s"))
        .select(id_col, F.col("s.block").alias("block"), F.col("s.bv").alias("bv"))
    )
    cents = (
        embeddings.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("code"), _as_double(F.col(vec_col)).alias("v"))
        .select("code", F.explode(block_slices).alias("s"))
        .select("code", F.col("s.block").alias("block"), F.col("s.bv").alias("cv"))
    )
    d2 = _sq_l2(F.col("bv"), F.col("cv"))
    scored = vecs.join(F.broadcast(cents), "block").select(
        id_col, "block", "code", F.round(d2, 6).alias("d2")
    )
    w = Window.partitionBy(id_col, "block").orderBy(F.asc("d2"), F.asc("code"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("block").cast("bigint").alias("block"),
            F.col("code").cast("bigint").alias("code"),
        )
    )


PQ_ENCODE_SQL_TEMPLATE = """
WITH blocks AS (
    SELECT vec_id, b,
           embedding[b * (LEN(embedding) // {m}) + 1 : (b + 1) * (LEN(embedding) // {m})] AS bv
    FROM embeddings CROSS JOIN UNNEST(range(0, {m})) AS t(b)
),
cents AS (
    SELECT vec_id AS code, b,
           embedding[b * (LEN(embedding) // {m}) + 1 : (b + 1) * (LEN(embedding) // {m})] AS cv
    FROM embeddings CROSS JOIN UNNEST(range(0, {m})) AS t(b)
    WHERE vec_id < {k}
),
scored AS (
    SELECT v.vec_id, v.b, c.code,
           ROUND(list_distance(v.bv, c.cv) ** 2, 6) AS d2
    FROM blocks v JOIN cents c ON v.b = c.b
),
ranked AS (
    SELECT vec_id, b, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY d2 ASC, code ASC) AS rn
    FROM scored
)
SELECT vec_id, CAST(b AS BIGINT) AS block, CAST(code AS BIGINT) AS code
FROM ranked WHERE rn = 1
"""


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_blocks: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance (ADC): candidates are
    represented ONLY by their per-block codes; distance(query, candidate) =
    sum over blocks of d2(query sub-vector, codebook centroid of the
    candidate's code).  The 100 TB shape: the scan side carries 4 small ints
    per vector instead of the float payload, the codebook is broadcast, and
    per-block distances are summed as int64 micro-units so the ranking is
    deterministic across engines (oracle-checkable despite being float math
    underneath).
    """
    codes = pq_encode(
        embeddings, n_blocks=n_blocks, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("cand_id"), "block", "code")
    block_slices = _block_slices(n_blocks)
    cents = (
        embeddings.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("code"), _as_double(F.col(vec_col)).alias("v"))
        .select("code", F.explode(block_slices).alias("s"))
        .select("code", F.col("s.block").alias("block"), F.col("s.bv").alias("cv"))
    )
    qblocks = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("v"))
        .select("query_id", F.explode(block_slices).alias("s"))
        .select("query_id", F.col("s.block").alias("block"), F.col("s.bv").alias("qv"))
    )
    d2 = _sq_l2(F.col("qv"), F.col("cv"))
    # per-(query, block, code) lookup table, broadcast-sized: Q * m * k rows
    lut = qblocks.join(F.broadcast(cents), "block").select(
        "query_id", "block", "code", F.round(d2 * 1_000_000, 0).cast("bigint").alias("d2_micro")
    )
    scored = (
        codes.join(F.broadcast(lut), ["block", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d2_micro").alias("adc_micro"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_micro"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank")
    )


PQ_TOPK_SQL_TEMPLATE = """
WITH codes AS ({pq_encode}),
blocks AS (
    SELECT vec_id, b,
           embedding[b * (LEN(embedding) // {m}) + 1 : (b + 1) * (LEN(embedding) // {m})] AS bv
    FROM embeddings CROSS JOIN UNNEST(range(0, {m})) AS t(b)
),
cents AS (SELECT vec_id AS code, b, bv AS cv FROM blocks WHERE vec_id < {k_codes}),
lut AS (
    SELECT q.vec_id AS query_id, q.b, c.code,
           CAST(ROUND(list_distance(q.bv, c.cv) ** 2 * 1000000, 0) AS BIGINT) AS d2_micro
    FROM blocks q JOIN cents c ON q.b = c.b
    WHERE q.vec_id < {num_queries}
),
scored AS (
    SELECT l.query_id, co.vec_id AS cand_id, SUM(l.d2_micro) AS adc_micro
    FROM codes co JOIN lut l ON l.b = co.block AND l.code = co.code
    GROUP BY l.query_id, co.vec_id
),
ranked AS (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micro ASC, cand_id ASC) AS rn
    FROM scored
    WHERE query_id != cand_id
)
SELECT query_id, cand_id AS neighbor_id, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {k}
"""


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_blocks: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full billion-scale ANN index layout in one plan (FAISS IVF-PQ,
    Johnson et al. 2017): coarse-quantize the corpus into cells, PQ-compress
    every vector, then answer queries by probing only ``n_probe`` cells and
    scoring candidates with the asymmetric code distance.

    Everything is deterministic (probe distances rounded to 6 dp with cell
    tie-breaks; ADC summed as int64 micro-units), so unlike the float
    variants this composition is exactly oracle-checkable end-to-end.
    Per-query work: n_probe/n_cells of the corpus, at codes-only width.
    """
    assign = ivf_assign(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(
        embeddings, n_blocks=n_blocks, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("cand_id"), "block", "code")

    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("centroid")
    )
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    cell_d2 = _sq_l2(F.col("qv"), F.col("centroid"))
    qcells = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "cell", F.round(cell_d2, 6).alias("d2")
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cell")
    )

    block_slices = _block_slices(n_blocks)
    pq_cents = (
        embeddings.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("code"), _as_double(F.col(vec_col)).alias("v"))
        .select("code", F.explode(block_slices).alias("s"))
        .select("code", F.col("s.block").alias("block"), F.col("s.bv").alias("cv"))
    )
    qblocks = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("v"))
        .select("query_id", F.explode(block_slices).alias("s"))
        .select("query_id", F.col("s.block").alias("block"), F.col("s.bv").alias("qv"))
    )
    adc_d2 = _sq_l2(F.col("qv"), F.col("cv"))
    lut = qblocks.join(F.broadcast(pq_cents), "block").select(
        "query_id", "block", "code",
        F.round(adc_d2 * 1_000_000, 0).cast("bigint").alias("d2_micro"),
    )

    cand = codes.join(assign.select(F.col(id_col).alias("cand_id"), "cell"), "cand_id")
    in_probe = cand.join(F.broadcast(probed), "cell")
    scored = (
        in_probe.join(F.broadcast(lut), ["query_id", "block", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d2_micro").alias("adc_micro"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_micro"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank")
    )


IVFPQ_TOPK_SQL_TEMPLATE = """
WITH assign AS ({ivf_assign}),
codes AS ({pq_encode}),
probe AS (
    SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_distance(q.embedding, c.embedding) ** 2, 6) ASC,
                            c.vec_id ASC) AS rn
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < {num_queries} AND c.vec_id < {n_cells}
    ) t WHERE rn <= {n_probe}
),
qblocks AS (
    SELECT vec_id AS query_id, b,
           embedding[b * (LEN(embedding) // {m}) + 1 : (b + 1) * (LEN(embedding) // {m})] AS bv
    FROM embeddings CROSS JOIN UNNEST(range(0, {m})) AS t(b)
    WHERE vec_id < {num_queries}
),
pq_cents AS (
    SELECT vec_id AS code, b,
           embedding[b * (LEN(embedding) // {m}) + 1 : (b + 1) * (LEN(embedding) // {m})] AS cv
    FROM embeddings CROSS JOIN UNNEST(range(0, {m})) AS t(b)
    WHERE vec_id < {k_codes}
),
lut AS (
    SELECT q.query_id, q.b, c.code,
           CAST(ROUND(list_distance(q.bv, c.cv) ** 2 * 1000000, 0) AS BIGINT) AS d2_micro
    FROM qblocks q JOIN pq_cents c ON q.b = c.b
),
scored AS (
    SELECT p.query_id, co.vec_id AS cand_id, SUM(l.d2_micro) AS adc_micro
    FROM codes co
    JOIN assign a ON a.vec_id = co.vec_id
    JOIN probe p ON p.cell = a.cell
    JOIN lut l ON l.query_id = p.query_id AND l.b = co.block AND l.code = co.code
    GROUP BY p.query_id, co.vec_id
),
ranked AS (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micro ASC, cand_id ASC) AS rn
    FROM scored WHERE query_id != cand_id
)
SELECT query_id, cand_id AS neighbor_id, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {k}
"""


def semantic_search(
    embeddings: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """End-user retrieval story: exact cosine top-k over the embedding table,
    hydrated back to the document table (id-aligned corpus) — the RAG
    retrieve step.  The ANN kernel never carries text; only the k winners
    per query join back to the (typically much wider) docs relation, keyed
    on the high-cardinality doc id."""
    hits = cosine_topk_bruteforce(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    meta = docs.select(
        F.col(doc_id_col).alias("neighbor_id"),
        F.col("source").alias("neighbor_source"),
        F.substring(F.col("text"), 1, 40).alias("snippet"),
    )
    return hits.join(meta, "neighbor_id").select(
        "query_id", "rank", "neighbor_id", "neighbor_source", "snippet"
    )


SEMANTIC_SEARCH_SQL_TEMPLATE = """
WITH hits AS (
    SELECT query_id, neighbor_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                            c.vec_id ASC) AS BIGINT) AS rank
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
    ) t WHERE rank <= {k}
)
SELECT h.query_id, h.rank, h.neighbor_id,
       d.source AS neighbor_source,
       substring(d.text, 1, 40) AS snippet
FROM hits h JOIN documents d ON d.doc_id = h.neighbor_id
"""


def _lit_centroids(spark, rows) -> DataFrame:
    """Collected (cell, cm) centroid rows -> an inline VALUES relation
    (LocalRelation: broadcast without a job, flat lineage each iteration —
    ``createDataFrame`` from Python objects would plan as Scan ExistingRDD)."""
    vals = ", ".join(
        f"({int(r['cell'])}, array({', '.join(str(int(v)) for v in r['cm'])}))"
        for r in rows
    )
    return spark.sql(
        f"SELECT CAST(cell AS BIGINT) cell, CAST(cm AS ARRAY<BIGINT>) cm "
        f"FROM VALUES {vals} AS t(cell, cm)"
    )


def kmeans_refine(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means refinement of the IVF coarse quantizer — the step
    :func:`ivf_assign` leaves open ("a k-means refinement would slot in
    here").  Initial centroids are the deterministic sample (ids <
    ``n_cells``); each of ``n_iters`` iterations reassigns every vector to
    its nearest centroid and recomputes centroids as member means.  Returns
    the final (vec_id, cell) assignment under the refined centroids.

    Distributed shape (the Spark MLlib k-means pattern):

    - vectors are held as int64 micro-unit arrays, so every distance is an
      exact integer — assignment ties and the oracle comparison are
      deterministic across engines (no float summation-order drift);
    - per-iteration work is ONE broadcast-join pass computing a partial-agg
      argmin (``min(struct(d2, cell))`` — map-side combined, no window
      sort), plus a per-cell mean whose shuffle carries only ``n_cells``
      grouped rows after map-side combine;
    - centroid means shuffle LONG-FORM (cell, dim, sum, count) partial
      aggregates — ``n_cells x dim`` grouped rows after map-side combine —
      instead of a ``dim``-wide aggregate expression list, which stalls
      whole-stage codegen at wide dims;
    - centroids are bounded (``n_cells x dim`` ints), so collecting them
      each iteration is legitimate driver traffic; re-inlining them as a
      VALUES literal keeps the plan flat (no lineage growth across
      iterations) and makes the broadcast free;
    - the micro-encoded corpus is checkpointed once and reused by every
      pass (MLlib caches its input for the same reason — lazy re-encoding
      would re-run the scan per iteration).

    Centroid means use integer division truncating toward zero (Spark
    ``div`` == DuckDB ``//``; the driver-side assembly emulates the same),
    so refined centroids are exact integers too.
    """
    spark = embeddings.sparkSession
    # Zero-length vectors have no geometry: they can neither seed nor be
    # assigned (and an all-empty corpus made the per-iteration long-form
    # aggregate come back empty, crashing the driver-side centroid
    # assembly — degenerate-input sweep).  Filter in-plan, pushed to scan.
    vm = embeddings.filter(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x * 1_000_000, 0).cast("bigint"),
        ).alias("vm"),
    ).localCheckpoint(eager=True)
    d2 = F.aggregate(
        F.zip_with(F.col("vm"), F.col("cm"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )

    def assign(cents_df: DataFrame, keep_vm: bool) -> DataFrame:
        aggs = [F.min(F.struct("d2", "cell")).alias("m")]
        if keep_vm:
            aggs.append(F.first("vm").alias("vm"))  # constant per key
        return (
            vm.crossJoin(F.broadcast(cents_df))
            .select(id_col, "vm", "cell", d2.alias("d2"))
            .groupBy(id_col)
            .agg(*aggs)
            .select(id_col, F.col("m.cell").alias("cell"), *(["vm"] if keep_vm else []))
        )

    seeds = (
        vm.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).alias("cell"), F.col("vm").alias("cm"))
        .collect()
    )
    if not seeds:
        if vm.isEmpty():  # empty corpus -> empty assignment, typed
            return spark.sql(
                "SELECT CAST(NULL AS BIGINT) AS "
                + id_col
                + ", CAST(NULL AS BIGINT) AS cell WHERE FALSE"
            )
        raise ValueError(
            f"kmeans_refine needs seed vectors with {id_col} < n_cells "
            f"(= {n_cells}) for the deterministic init sample"
        )
    cents_df = _lit_centroids(spark, seeds)
    def trunc_div(s: int, n: int) -> int:
        # toward-zero integer division (Python // floors; n > 0 here):
        # match Spark `div` / DuckDB `//`
        return s // n if s >= 0 else -((-s) // n)

    for _ in range(n_iters):
        sums = (
            assign(cents_df, keep_vm=True)
            .select("cell", F.posexplode("vm").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        n_dims = max(int(r["dim"]) for r in sums) + 1
        by_cell: dict[int, list[int]] = {}
        for r in sums:
            by_cell.setdefault(int(r["cell"]), [0] * n_dims)[int(r["dim"])] = trunc_div(
                int(r["s"]), int(r["n"])
            )
        cents_df = _lit_centroids(
            spark, [{"cell": c, "cm": cm} for c, cm in sorted(by_cell.items())]
        )
    return assign(cents_df, keep_vm=False).select(
        F.col(id_col), F.col("cell").cast("bigint").alias("cell")
    )


def kmeans_refine_sql(n_cells: int = 16, n_iters: int = 2) -> str:
    """DuckDB oracle for :func:`kmeans_refine`: the same Lloyd iterations in
    long form (vec_id, dim, v) with identical int64 micro-unit arithmetic,
    chained as one CTE per assign/update step."""
    parts = [
        f"""WITH vm AS (
    SELECT vec_id, i AS dim, CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
cents0 AS (SELECT vec_id AS cell, dim, v FROM vm WHERE vec_id < {n_cells})"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f""",
dist{t} AS (
    SELECT a.vec_id, c.cell, CAST(SUM((a.v - c.v) * (a.v - c.v)) AS BIGINT) AS d2
    FROM vm a JOIN cents{t - 1} c ON a.dim = c.dim
    GROUP BY a.vec_id, c.cell
),
assign{t} AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM dist{t}
    ) r WHERE rn = 1
),
cents{t} AS (
    SELECT g.cell, v.dim, CAST(SUM(v.v) AS BIGINT) // COUNT(*) AS v
    FROM assign{t} g JOIN vm v ON v.vec_id = g.vec_id
    GROUP BY g.cell, v.dim
)"""
        )
    t = n_iters + 1
    parts.append(
        f""",
dist{t} AS (
    SELECT a.vec_id, c.cell, CAST(SUM((a.v - c.v) * (a.v - c.v)) AS BIGINT) AS d2
    FROM vm a JOIN cents{n_iters} c ON a.dim = c.dim
    GROUP BY a.vec_id, c.cell
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
    FROM dist{t}
) r WHERE rn = 1"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) + exact-L2 baseline + ANN recall audit
# ---------------------------------------------------------------------------


def _vec_micro_long(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Long-form (id, dim, xm) micro-unit int64 encoding of the vector column
    — the shared deterministic substrate (same convention as
    :func:`kmeans_refine`): ONE float round per value, integer arithmetic
    everywhere after, so Spark and the DuckDB oracle agree bit-for-bit."""
    return embeddings.select(
        F.col(id_col), F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x")
    ).select(
        id_col,
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x") * 1_000_000, 0).cast("bigint").alias("xm"),
    )


_VM_SQL = """
    SELECT vec_id, i - 1 AS dim, CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
"""


def sq8_encode(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension 8-bit scalar quantization (the faiss ``SQ8`` flat-index
    codec): train per-dim (min, max) over the corpus, store each value as
    ``(x - min) * 255 div (max - min)`` in 0..255 — a 4x memory cut vs
    float32, the difference between an embedding corpus fitting executor
    memory or not at 100 TB.

    Distributed shape: the trained quantizer is ONE tiny agg (``dim`` rows
    after map-side combine) broadcast back over the corpus; encoding is a
    narrow projection — no corpus shuffle at all.  All arithmetic after the
    shared micro-unit rounding is int64 (truncating ``div`` == DuckDB
    ``//`` on non-negative operands), so codes are oracle-exact.

    Long-form output (id, dim, code); constant dimensions encode as 0.
    """
    vm = _vec_micro_long(embeddings, id_col, vec_col)
    stats = vm.groupBy("dim").agg(F.min("xm").alias("mn"), F.max("xm").alias("mx"))
    code = (
        F.when(F.col("mx") > F.col("mn"), F.expr("((xm - mn) * 255) div (mx - mn)"))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    return vm.join(F.broadcast(stats), "dim").select(
        F.col(id_col), F.col("dim"), code.alias("code")
    )


SQ8_ENCODE_SQL = f"""
WITH vm AS ({_VM_SQL}),
stats AS (SELECT dim, MIN(xm) AS mn, MAX(xm) AS mx FROM vm GROUP BY dim)
SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       CAST(CASE WHEN mx > mn THEN ((xm - mn) * 255) // (mx - mn) ELSE 0 END AS BIGINT) AS code
FROM vm JOIN stats USING (dim)
"""


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate L2 top-k over SQ8 codes (symmetric distance: both sides
    quantized, ``sum((code_q - code_c)^2)`` as int64).  The candidate side
    carries one byte-sized int per dimension instead of the float payload;
    the query-side codes are broadcast (Q x dim rows), so the corpus scan
    never shuffles — the single shuffle is the (query, candidate) partial
    sum, map-side combined.
    """
    codes = sq8_encode(embeddings, id_col=id_col, vec_col=vec_col).localCheckpoint(
        eager=True
    )
    qc = codes.join(
        F.broadcast(queries.select(F.col(id_col))), id_col, "left_semi"
    ).select(F.col(id_col).alias("query_id"), "dim", F.col("code").alias("qcode"))
    cc = codes.select(F.col(id_col).alias("neighbor_id"), "dim", F.col("code").alias("ccode"))
    d = (F.col("qcode") - F.col("ccode")) * (F.col("qcode") - F.col("ccode"))
    scored = (
        cc.join(F.broadcast(qc), "dim")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(d).alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


SQ8_TOPK_SQL_TEMPLATE = (
    """
WITH codes AS ("""
    + SQ8_ENCODE_SQL
    + """),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM((q.code - c.code) * (q.code - c.code)) AS d2
    FROM codes c JOIN codes q USING (dim)
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
    GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rn
    FROM scored
) r WHERE rn <= {k}
"""
)


def l2_topk_exact(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k in micro-unit int64 arithmetic — the ground-truth
    baseline the ANN variants (PQ/IVF-PQ/SQ8) are audited against.  Unlike
    :func:`cosine_topk_bruteforce` (float cosine, rank-only oracle), every
    distance here is an exact integer, so ties and ranks are deterministic
    across engines.  Query side broadcast; corpus scanned once, unshuffled.
    """
    vm = _vec_micro_long(embeddings, id_col, vec_col).localCheckpoint(eager=True)
    qv = vm.join(F.broadcast(queries.select(F.col(id_col))), id_col, "left_semi").select(
        F.col(id_col).alias("query_id"), "dim", F.col("xm").alias("qm")
    )
    cv = vm.select(F.col(id_col).alias("neighbor_id"), "dim", F.col("xm").alias("cm"))
    d = (F.col("qm") - F.col("cm")) * (F.col("qm") - F.col("cm"))
    scored = (
        cv.join(F.broadcast(qv), "dim")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(d).alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


L2_TOPK_SQL_TEMPLATE = (
    """
WITH vm AS ("""
    + _VM_SQL
    + """),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM((q.xm - c.xm) * (q.xm - c.xm)) AS d2
    FROM vm c JOIN vm q USING (dim)
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
    GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rn
    FROM scored
) r WHERE rn <= {k}
"""
)


def ann_recall(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Recall@k audit of an ANN result against the exact ranking: per query,
    how many of the true top-k the approximate method recovered.  Both
    inputs are (query_id, neighbor_id, rank) relations; output is
    (query_id, hits, recall_ppm) in exact integer arithmetic.

    The quality gate every production ANN deployment runs after (re)building
    an index — here it composes any two harness ranking queries.  Shuffles
    only k-row-per-query id pairs; no vector data moves.
    """
    e = exact.select("query_id", "neighbor_id")
    hits = (
        e.join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        e.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            F.expr(f"coalesce(hits, 0) * 1000000 div {k}").cast("bigint").alias("recall_ppm"),
        )
    )


ANN_RECALL_SQL_TEMPLATE = """
WITH approx AS ({approx_sql}),
exact AS ({exact_sql}),
hits AS (
    SELECT e.query_id, COUNT(a.neighbor_id) AS hits
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
)
SELECT query_id, CAST(hits AS BIGINT) AS hits,
       CAST(hits * 1000000 // {k} AS BIGINT) AS recall_ppm
FROM hits
"""


# ---------------------------------------------------------------------------
# MMR diversified top-k (maximal marginal relevance)
# ---------------------------------------------------------------------------


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 12,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance top-k (Carbonell & Goldstein 1998):
    greedily pick ``k`` results per query balancing relevance against
    redundancy with what's already picked —

        pick_t = argmin_c [ lam * d2(q, c) - (1 - lam) * min_{s in S} d2(c, s) ]

    (the distance form of the classic similarity MMR; the first pick is pure
    relevance).  The diversified-retrieval/sample-selection step after ANN:
    without it, near-duplicate neighbors crowd out coverage.

    Distributed shape: ONE corpus pass scores relevance (query side
    broadcast), a per-query candidate ``pool`` is cut by window top-N, and
    the candidate-candidate distance table (pool^2 rows per query) is
    computed once and checkpointed — the k-step greedy loop then touches
    only those tiny tables (k chained joins, no further corpus access).
    All distances are micro-unit int64 (:func:`l2_topk_exact`'s substrate),
    ``lam`` rides as tenths, so every pick and tie-break is exact and the
    whole greedy trace is oracle-checkable.

    Returns (query_id, neighbor_id, pick_rank), pick_rank 1..k in selection
    order.

    EAGER: the greedy trace runs at call time (the queries×pool relevance
    and queries×pool² redundancy tables collect to the driver), so calling
    this builds no lazy plan — it executes the corpus pass immediately.
    The collected tables are |queries|·pool and |queries|·pool² rows; the
    API contract assumes a bounded query batch (hundreds, not millions) —
    a corpus-sized ``queries`` input belongs in a different operator.
    Driver-side arithmetic is unbounded Python int (exact); the engines
    it mirrors use int64, so parity assumes magnitudes stay inside int64 —
    the micro-unit substrate overflows int64 only past ~9e18, far beyond
    any real embedding scale here.
    """
    lam10, inv10 = lam_tenths, 10 - lam_tenths
    vm = _vec_micro_long(embeddings, id_col, vec_col).localCheckpoint(eager=True)
    qv = vm.join(F.broadcast(queries.select(F.col(id_col))), id_col, "left_semi").select(
        F.col(id_col).alias("query_id"), "dim", F.col("xm").alias("qm")
    )
    cv = vm.select(F.col(id_col).alias("cand_id"), "dim", F.col("xm").alias("cm"))
    d2q = (
        cv.join(F.broadcast(qv), "dim")
        .filter(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum((F.col("qm") - F.col("cm")) * (F.col("qm") - F.col("cm"))).alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cand_id"))
    # Q x pool rows: collapse to ONE partition before checkpointing so the
    # k-step greedy loop below schedules 1 task per stage, not 32 empty ones
    cand = (
        d2q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .select("query_id", "cand_id", "d2")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    cvm = cand.select("query_id", "cand_id").join(
        vm.select(F.col(id_col).alias("cand_id"), "dim", "xm"), "cand_id"
    )
    a = cvm.select("query_id", F.col("cand_id").alias("a"), "dim", F.col("xm").alias("am"))
    b = cvm.select("query_id", F.col("cand_id").alias("b"), "dim", F.col("xm").alias("bm"))
    cc = (
        a.join(b, ["query_id", "dim"])
        .filter(F.col("a") != F.col("b"))
        .groupBy("query_id", "a", "b")
        .agg(F.sum((F.col("am") - F.col("bm")) * (F.col("am") - F.col("bm"))).alias("d2"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # The greedy trace runs DRIVER-SIDE over the two collected tables: both
    # are KB-scale BY CONSTRUCTION (cand = queries × pool rows, cc =
    # queries × pool² — corpus-size independent, already coalesced to one
    # partition), and every pick quantity is exact int64 algebra
    # (lam10·d2 − inv10·min_d2 with total (key, cand_id) tie-breaks) that
    # Python integers replicate bit-for-bit.  The former per-step Spark
    # rounds — two broadcast joins, a window argmin and a checkpoint per
    # pick, ~30 jobs of scheduler machinery over those KB — are gone (the
    # pca_top_component recipe); the corpus-sized work (relevance pass,
    # pool cut, candidate-candidate distances) is unchanged above.
    from pyspark.sql.types import LongType, StructField, StructType

    spark = embeddings.sparkSession
    by_q: dict = {}
    for r in cand.collect():
        by_q.setdefault(r["query_id"], []).append((r["cand_id"], int(r["d2"])))
    ccd = {(r["query_id"], r["a"], r["b"]): int(r["d2"]) for r in cc.collect()}
    out = []
    for q, cands in sorted(by_q.items()):
        picked = [min(cands, key=lambda cd: (cd[1], cd[0]))[0]]
        out.append((q, picked[0], 1))
        for t in range(2, k + 1):
            best = None
            for c, d2 in cands:
                if c in picked:
                    continue
                mind = min(
                    (ccd[(q, c, s)] for s in picked if (q, c, s) in ccd),
                    default=None,
                )
                if mind is None:  # inner-join semantics of the former plan
                    continue
                key = (lam10 * d2 - inv10 * mind, c)
                if best is None or key < best:
                    best, chosen = key, c
            if best is None:
                break
            picked.append(chosen)
            out.append((q, chosen, t))
    base = cand.select("query_id", F.col("cand_id").alias("neighbor_id")).schema
    ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in base.fields]
        + ["pick_rank bigint"]
    )
    return values_relation(spark, out, ddl)


def mmr_topk_sql(
    k: int = 5, pool: int = 12, lam_tenths: int = 7, num_queries: int = 10
) -> str:
    """DuckDB oracle for :func:`mmr_topk`: the same greedy trace as chained
    CTEs — one ``sel{t}`` per pick, accumulated via ``acc{t}`` unions —
    with identical int64 micro-unit arithmetic and tie-breaks."""
    lam10, inv10 = lam_tenths, 10 - lam_tenths
    parts = [
        f"""WITH vm AS ({_VM_SQL}),
d2q AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           SUM((q.xm - c.xm) * (q.xm - c.xm)) AS d2
    FROM vm c JOIN vm q USING (dim)
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
    GROUP BY q.vec_id, c.vec_id
),
cand AS (
    SELECT query_id, cand_id, CAST(d2 AS BIGINT) AS d2 FROM (
        SELECT query_id, cand_id, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, cand_id ASC) AS rn
        FROM d2q
    ) r WHERE rn <= {pool}
),
cvm AS (
    SELECT cand.query_id, cand.cand_id, vm.dim, vm.xm
    FROM cand JOIN vm ON vm.vec_id = cand.cand_id
),
cc AS (
    SELECT a.query_id, a.cand_id AS a, b.cand_id AS b,
           CAST(SUM((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
    FROM cvm a JOIN cvm b ON a.query_id = b.query_id AND a.dim = b.dim
    WHERE a.cand_id != b.cand_id
    GROUP BY a.query_id, a.cand_id, b.cand_id
),
sel1 AS (
    SELECT query_id, cand_id, CAST(1 AS BIGINT) AS pick_rank FROM (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, cand_id ASC) AS rn
        FROM cand
    ) r WHERE rn = 1
),
acc1 AS (SELECT * FROM sel1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""",
sel{t} AS (
    SELECT query_id, cand_id, CAST({t} AS BIGINT) AS pick_rank FROM (
        SELECT r.query_id, r.cand_id,
               ROW_NUMBER() OVER (
                   PARTITION BY r.query_id
                   ORDER BY {lam10} * r.d2 - {inv10} * m.min_d2 ASC, r.cand_id ASC) AS rn
        FROM cand r
        JOIN (SELECT cc.query_id, cc.a AS cand_id, MIN(cc.d2) AS min_d2
              FROM cc JOIN acc{t - 1} s ON cc.query_id = s.query_id AND cc.b = s.cand_id
              GROUP BY cc.query_id, cc.a) m
          ON m.query_id = r.query_id AND m.cand_id = r.cand_id
        WHERE NOT EXISTS (SELECT 1 FROM acc{t - 1} s2
                          WHERE s2.query_id = r.query_id AND s2.cand_id = r.cand_id)
    ) z WHERE rn = 1
),
acc{t} AS (SELECT * FROM acc{t - 1} UNION ALL SELECT * FROM sel{t})"""
        )
    parts.append(
        f"""
SELECT query_id, cand_id AS neighbor_id, pick_rank FROM acc{k}"""
    )
    return "".join(parts)


def cluster_balanced_sample(
    embeddings: DataFrame,
    n_per_cell: int = 8,
    n_cells: int = 16,
    salt: str = "",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-balanced subset selection: cluster the corpus (IVF coarse
    cells) and draw EXACTLY ``n_per_cell`` items per cell by deterministic
    content-hash order — the cluster-then-uniform sampling used to build
    semantically spread subsets (the selection counterpart of SemDeDup's
    cluster-then-prune).

    A plain uniform sample over-represents dense regions; quota-per-cell
    flattens the semantic density.  Composition: :func:`ivf_assign`
    (broadcast-centroid argmin, one narrow pass) -> md5-ranked window per
    cell, ranking a slim (id, cell, hash) projection — one shuffle keyed on
    the cell, payloads never ride.  Deterministic end-to-end: assignment
    rounds d2 to 6 dp and the draw is a pure hash function, so the DuckDB
    oracle reproduces the exact subset.
    """
    cells = ivf_assign(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)).cast("binary"))
    w = Window.partitionBy("cell").orderBy("h", id_col)
    return (
        cells.select(F.col(id_col), "cell", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= n_per_cell)
        .select(id_col, "cell", "rk")
    )


CLUSTER_BALANCED_SAMPLE_SQL_TEMPLATE = """
WITH cents AS (
    SELECT vec_id AS cell, embedding AS centroid FROM embeddings
    WHERE vec_id < {n_cells}
),
scored AS (
    SELECT v.vec_id, c.cell,
           ROUND(list_distance(v.embedding, c.centroid) ** 2, 6) AS d2
    FROM embeddings v CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM scored
    ) WHERE rn = 1
),
ranked AS (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (
               PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR) || '{salt}'), vec_id
           ) AS rk
    FROM assigned
)
SELECT vec_id, cell, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {n_per_cell}
"""


def matryoshka_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    prefix_dims: int = 16,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-representation search (Kusupati et al. 2022): rank
    candidates CHEAPLY on the first ``prefix_dims`` dimensions (MRL
    embeddings front-load information, so the prefix is itself a usable
    embedding), keep a per-query ``shortlist``, then re-rank only the
    shortlist at full dimensionality.  Scan cost drops by ~dim/prefix_dims
    while full-precision quality survives via the rerank — the two-phase
    funnel every production vector store runs.

    Both phases score as int64 micro-unit dot products (components rounded
    to 1e-6 BEFORE multiplying), so ranks are bit-exact cross-engine.  The
    query side broadcasts in both phases; the corpus scans once for the
    coarse pass and only the shortlist rows rejoin for the rerank, keyed by
    candidate id (at 100 TB: prefix columns can be stored separately —
    column pruning means the coarse pass reads prefix_dims/dim of the
    bytes).
    """
    enc = "transform(v, x -> cast(round(x * 1000000, 0) as bigint))"

    def micro(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).cast("array<double>").alias("v")
        ).select(out_id, F.expr(enc).alias(out_vec))

    q = micro(queries, "query_id", "qv").withColumn(
        "qp", F.slice("qv", 1, prefix_dims)
    )
    c = micro(embeddings, "cand_id", "cv").withColumn(
        "cp", F.slice("cv", 1, prefix_dims)
    )
    int_dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "cv",
            "qv",
            int_dot(F.col("qp"), F.col("cp")).alias("coarse_dot"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("coarse_dot"), F.asc("cand_id")
    )
    short = coarse.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= shortlist
    )
    rer = short.select(
        "query_id", "cand_id", int_dot(F.col("qv"), F.col("cv")).alias("full_dot")
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("full_dot"), F.asc("cand_id"))
    return (
        rer.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            "rank",
            (F.col("full_dot").cast("double") / 1e12).alias("dot"),
        )
    )


MATRYOSHKA_TOPK_SQL_TEMPLATE = """
WITH m AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS mv
    FROM embeddings
),
coarse AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.mv AS qv, c.mv AS cv,
           CAST(list_sum(list_transform(range(1, {prefix_dims} + 1),
                                        i -> q.mv[i] * c.mv[i])) AS BIGINT)
               AS coarse_dot
    FROM m q CROSS JOIN m c
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
),
short AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY coarse_dot DESC, cand_id ASC) AS crank
    FROM coarse
),
rer AS (
    SELECT query_id, cand_id,
           CAST(list_sum(list_transform(range(1, LEN(qv) + 1),
                                        i -> qv[i] * cv[i])) AS BIGINT) AS full_dot
    FROM short WHERE crank <= {shortlist}
)
SELECT query_id, cand_id AS neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY full_dot DESC, cand_id ASC) AS BIGINT)
           AS rank,
       CAST(full_dot AS DOUBLE) / 1e12 AS dot
FROM rer
QUALIFY rank <= {k}
"""


def ivfpq_residual_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_blocks: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the FAISS-default composition
    (Jegou et al. 2011 §IV, `IndexIVFPQ`): PQ codes compress the residual
    ``v - centroid(cell(v))`` instead of the raw vector.  Residuals are
    near-zero-centered so the same code budget buys ~one extra bit of
    precision per block; the price is a per-(query, probed-cell) lookup
    table, since the query must be re-centered against every cell it probes.

    Plan shape: the codebook (residuals of vectors ``n_cells ..
    n_cells + n_codes`` — the seed ids must SKIP the centroid seeds, whose
    own-cell residuals are exactly the zero vector; a codebook of zeros
    makes ADC candidate-independent and the ranking degenerate to id
    order, the r6 bug this offset fixes) broadcasts everywhere; corpus
    residuals ride the cell assignment join (broadcast centroids, corpus
    never shuffles for it); the LUT is |queries| x n_probe x n_blocks x
    n_codes rows — broadcast; candidates in non-probed cells drop out
    naturally because the LUT join is keyed on (cell, block, code).  ADC
    sums int64 micro-units with 6 dp pre-rounding, so the whole
    approximate index is value-hash exact cross-engine.
    """
    assign = ivf_assign(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("centroid")
    )
    base = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    resid = (
        base.join(assign, id_col)
        .join(F.broadcast(cents), "cell")
        .select(
            id_col,
            "cell",
            F.zip_with("v", "centroid", lambda x, y: x - y).alias("rv"),
        )
    )
    block_slices = _block_slices(n_blocks)
    cb = (
        resid.filter(
            (F.col(id_col) >= n_cells) & (F.col(id_col) < n_cells + n_codes)
        )
        .select((F.col(id_col) - n_cells).alias("code"), F.col("rv").alias("v"))
        .select("code", F.explode(block_slices).alias("s"))
        .select("code", F.col("s.block").alias("block"), F.col("s.bv").alias("cv"))
    )
    rblocks = (
        resid.select(id_col, "cell", F.col("rv").alias("v"))
        .select(id_col, "cell", F.explode(block_slices).alias("s"))
        .select(id_col, "cell", F.col("s.block").alias("block"), F.col("s.bv").alias("bv"))
    )
    enc_d2 = _sq_l2(F.col("bv"), F.col("cv"))
    enc_scored = rblocks.join(F.broadcast(cb), "block").select(
        id_col, "cell", "block", "code", F.round(enc_d2, 6).alias("d2")
    )
    we = Window.partitionBy(id_col, "block").orderBy(F.asc("d2"), F.asc("code"))
    codes = (
        enc_scored.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col).alias("cand_id"), "cell", "block", "code")
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cell_d2 = _sq_l2(F.col("qv"), F.col("centroid"))
    qcells = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "cell", "centroid", F.round(cell_d2, 6).alias("d2")
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select(
            "query_id",
            "cell",
            F.zip_with("qv", "centroid", lambda x, y: x - y).alias("v"),
        )
    )
    qrblocks = (
        probed.select("query_id", "cell", F.explode(block_slices).alias("s"))
        .select("query_id", "cell", F.col("s.block").alias("block"), F.col("s.bv").alias("qbv"))
    )
    lut_d2 = _sq_l2(F.col("qbv"), F.col("cv"))
    lut = qrblocks.join(F.broadcast(cb), "block").select(
        "query_id", "cell", "block", "code",
        F.round(lut_d2 * 1_000_000, 0).cast("bigint").alias("d2_micro"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "block", "code"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d2_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_micro"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "rank")
    )


IVFPQ_RESIDUAL_SQL_TEMPLATE = """
WITH assign AS ({ivf_assign}),
cents AS (
    SELECT vec_id AS cell,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
    FROM embeddings WHERE vec_id < {n_cells}
),
resid AS (
    SELECT e.vec_id, a.cell,
           list_transform(range(1, LEN(e.embedding) + 1),
                          i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) AS rv
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN cents c ON c.cell = a.cell
),
cb AS (
    SELECT vec_id - {n_cells} AS code, b,
           rv[b * (LEN(rv) // {m}) + 1 : (b + 1) * (LEN(rv) // {m})] AS cv
    FROM resid CROSS JOIN UNNEST(range(0, {m})) AS t(b)
    WHERE vec_id >= {n_cells} AND vec_id < {n_cells} + {k_codes}
),
rblocks AS (
    SELECT vec_id, cell, b,
           rv[b * (LEN(rv) // {m}) + 1 : (b + 1) * (LEN(rv) // {m})] AS bv
    FROM resid CROSS JOIN UNNEST(range(0, {m})) AS t(b)
),
codes AS (
    SELECT vec_id AS cand_id, cell, b AS block, code FROM (
        SELECT r.vec_id, r.cell, r.b, c.code,
               ROW_NUMBER() OVER (
                   PARTITION BY r.vec_id, r.b
                   ORDER BY ROUND(list_distance(r.bv, c.cv) ** 2, 6) ASC,
                            c.code ASC) AS rn
        FROM rblocks r JOIN cb c ON r.b = c.b
    ) t WHERE rn = 1
),
probe AS (
    SELECT query_id, cell, qrv FROM (
        SELECT q.vec_id AS query_id, c.cell,
               list_transform(range(1, LEN(q.embedding) + 1),
                              i -> CAST(q.embedding[i] AS DOUBLE) - c.centroid[i]) AS qrv,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_distance(
                       list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                       c.centroid) ** 2, 6) ASC, c.cell ASC) AS rn
        FROM embeddings q CROSS JOIN cents c
        WHERE q.vec_id < {num_queries}
    ) t WHERE rn <= {n_probe}
),
qrblocks AS (
    SELECT query_id, cell, b,
           qrv[b * (LEN(qrv) // {m}) + 1 : (b + 1) * (LEN(qrv) // {m})] AS qbv
    FROM probe CROSS JOIN UNNEST(range(0, {m})) AS t(b)
),
lut AS (
    SELECT q.query_id, q.cell, q.b, c.code,
           CAST(ROUND(list_distance(q.qbv, c.cv) ** 2 * 1000000, 0) AS BIGINT)
               AS d2_micro
    FROM qrblocks q JOIN cb c ON q.b = c.b
),
scored AS (
    SELECT l.query_id, co.cand_id, SUM(l.d2_micro) AS adc_micro
    FROM codes co
    JOIN lut l ON l.cell = co.cell AND l.b = co.block AND l.code = co.code
    WHERE l.query_id != co.cand_id
    GROUP BY l.query_id, co.cand_id
)
SELECT query_id, cand_id AS neighbor_id, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_micro ASC, cand_id ASC) AS rn
    FROM scored
) t WHERE rn <= {k}
"""


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): combine any number of
    (query_id, hit_id, rank) relations into one ranking by summing
    ``1/(c + rank)`` per hit — the standard hybrid-retrieval merge (BM25 +
    dense vectors) because it needs no score calibration between systems,
    only ranks.

    Contributions are integer ppm (``1000000 div (c + rank)``), so the
    fused scores and ranks are engine-exact.  Union + one (query, hit)
    aggregation + a top-k window: rank lists are k rows per query per
    system, so the whole fusion is post-retrieval-tiny no matter the corpus
    size behind each system.
    """
    contrib = F.expr(f"1000000 div ({c} + rank)")
    parts = [
        r.select("query_id", F.col(r.columns[1]).alias("hit_id"), contrib.alias("c"))
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "hit_id").agg(F.sum("c").alias("rrf_ppm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_ppm"), F.asc("hit_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "hit_id", "rank", "rrf_ppm")
    )


# Oracle composition: {bm25} and {cosine} are full rank-producing queries
# (columns (query_id, hit_id|neighbor_id, rank, ...)); fusion is pure
# integer arithmetic over their ranks.
HYBRID_RRF_SQL_TEMPLATE = """
WITH bm AS ({bm25}),
vs AS ({cosine}),
u AS (
    SELECT query_id, hit_id, 1000000 // ({c} + rank) AS contrib FROM bm
    UNION ALL
    SELECT query_id, neighbor_id AS hit_id, 1000000 // ({c} + rank) FROM vs
),
fused AS (
    SELECT query_id, hit_id, CAST(SUM(contrib) AS BIGINT) AS rrf_ppm
    FROM u GROUP BY query_id, hit_id
)
SELECT query_id, hit_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_ppm DESC, hit_id ASC) AS BIGINT)
           AS rank,
       rrf_ppm
FROM fused
QUALIFY rank <= {k}
"""


def bitext_margin_mining(
    embeddings: DataFrame,
    knn: int = 4,
    top_n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER/
    CCMatrix recipe): find translation-pair candidates between two embedding
    groups by RATIO MARGIN — a pair qualifies not on raw cosine but on
    cosine relative to each side's average nearest-neighbor cosine, which
    cancels the hubness that makes absolute-threshold mining precision-poor.

        margin(x, y) = cos(x, y) / ((avgTopK(x) + avgTopK(y)) / 2)

    Groups are ``label % 2`` (the two "languages").  Everything is exact:
    cosines are computed from int64 micro dot products with one identical
    double sqrt/division per pair, re-rounded to micro; per-side top-k sums
    stay int64; the margin is ``cos·2k·1e6 div (sx + sy)`` — pure integer.
    Exhaustive X⨯Y scoring here (one broadcast of the smaller side); at
    100 TB the pair generation swaps to the IVF/LSH candidate paths and the
    margin math is unchanged.
    """
    enc = "transform(v, x -> cast(round(x * 1000000, 0) as bigint))"
    base = embeddings.select(
        F.col(id_col),
        (F.col(group_col) % 2).alias("grp"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select(id_col, "grp", F.expr(enc).alias("mv"))
    x = base.filter(F.col("grp") == 0).select(
        F.col(id_col).alias("x_id"), F.col("mv").alias("xv")
    )
    y = base.filter(F.col("grp") == 1).select(
        F.col(id_col).alias("y_id"), F.col("mv").alias("yv")
    )
    # pair scoring as a block-tile Arrow gemm (same int64 micro dot as the
    # oracle's list arithmetic, ~50x the interpreted HOF fold): X and Y rows
    # hash to n_blk row blocks, every (bx, by) tile is one applyInPandas
    # group computing its dot tile with ONE exact int64 matmul.  Rounding
    # replicates Spark/DuckDB ROUND (half away from zero).
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    n_blk = 4
    spark = embeddings.sparkSession
    tiles = (
        spark.range(n_blk)
        .select(F.col("id").alias("bx"))
        .crossJoin(spark.range(n_blk).select(F.col("id").alias("by")))
    )
    lhs = (
        x.withColumn("blk", F.pmod(F.xxhash64("x_id"), F.lit(n_blk)))
        .join(F.broadcast(tiles), F.col("blk") == F.col("bx"))
        .select("bx", "by", F.col("x_id").alias("_id"), F.col("xv").alias("mv"),
                F.lit(0).alias("side"))
    )
    rhs = (
        y.withColumn("blk", F.pmod(F.xxhash64("y_id"), F.lit(n_blk)))
        .join(F.broadcast(tiles), F.col("blk") == F.col("by"))
        .select("bx", "by", F.col("y_id").alias("_id"), F.col("yv").alias("mv"),
                F.lit(1).alias("side"))
    )
    pair_schema = StructType(
        [
            StructField("x_id", LongType(), False),
            StructField("y_id", LongType(), False),
            StructField("cos_micro", LongType(), False),
        ]
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        px, py = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        if px.empty or py.empty:
            return pd.DataFrame(
                {"x_id": pd.array([], dtype="int64"),
                 "y_id": pd.array([], dtype="int64"),
                 "cos_micro": pd.array([], dtype="int64")}
            )
        xi = px["_id"].to_numpy(dtype=np.int64)
        yi = py["_id"].to_numpy(dtype=np.int64)
        xm = np.stack(px["mv"].to_numpy()).astype(np.int64)
        ym = np.stack(py["mv"].to_numpy()).astype(np.int64)
        dots = xm @ ym.T  # exact int64
        xd2 = np.sqrt((xm * xm).sum(axis=1).astype(np.float64))
        yd2 = np.sqrt((ym * ym).sum(axis=1).astype(np.float64))
        cos = dots.astype(np.float64) / (xd2[:, None] * yd2[None, :]) * 1_000_000
        micro = np.where(cos >= 0, np.floor(cos + 0.5), np.ceil(cos - 0.5)).astype(
            np.int64
        )
        gi, gj = np.meshgrid(np.arange(len(xi)), np.arange(len(yi)), indexing="ij")
        return pd.DataFrame(
            {"x_id": xi[gi.ravel()], "y_id": yi[gj.ravel()],
             "cos_micro": micro.ravel()}
        )

    pairs = (
        lhs.unionByName(rhs)
        .groupBy("bx", "by")
        .applyInPandas(kernel, schema=pair_schema)
        .localCheckpoint(eager=True)
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("cos_micro"), F.asc("y_id"))
    sx = (
        pairs.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= knn)
        .groupBy("x_id")
        .agg(F.sum("cos_micro").alias("sx"))
    )
    wy = Window.partitionBy("y_id").orderBy(F.desc("cos_micro"), F.asc("x_id"))
    sy = (
        pairs.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") <= knn)
        .groupBy("y_id")
        .agg(F.sum("cos_micro").alias("sy"))
    )
    margined = (
        pairs.join(sx, "x_id")
        .join(sy, "y_id")
        .select(
            "x_id",
            "y_id",
            "cos_micro",
            F.expr(f"cos_micro * 2 * {knn} * 1000000 div (sx + sy)").alias(
                "margin_ppm"
            ),
        )
    )
    # mining threshold margin > 1 ("closer than your average neighbors")
    # BEFORE the global top-N window: the sort input drops from |X|x|Y|
    # pairs to the handful that out-score their neighborhoods, which is
    # what makes a single total-order window acceptable at scale
    w = Window.orderBy(F.desc("margin_ppm"), F.asc("x_id"), F.asc("y_id"))
    return (
        margined.filter(F.col("margin_ppm") >= 1_000_000)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_n)
        .select("rank", "x_id", "y_id", "cos_micro", "margin_ppm")
    )


BITEXT_MINING_SQL_TEMPLATE = """
WITH m AS (
    SELECT vec_id, label % 2 AS grp,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS mv
    FROM embeddings
),
x AS (SELECT vec_id AS x_id, mv AS xv,
             CAST(list_sum(list_transform(range(1, LEN(mv) + 1),
                                          i -> mv[i] * mv[i])) AS BIGINT) AS xd2
      FROM m WHERE grp = 0),
y AS (SELECT vec_id AS y_id, mv AS yv,
             CAST(list_sum(list_transform(range(1, LEN(mv) + 1),
                                          i -> mv[i] * mv[i])) AS BIGINT) AS yd2
      FROM m WHERE grp = 1),
pairs AS (
    SELECT x_id, y_id,
           CAST(ROUND(
               CAST(CAST(list_sum(list_transform(range(1, LEN(xv) + 1),
                                                 i -> xv[i] * yv[i])) AS BIGINT)
                    AS DOUBLE)
               / (SQRT(CAST(xd2 AS DOUBLE)) * SQRT(CAST(yd2 AS DOUBLE)))
               * 1000000, 0) AS BIGINT) AS cos_micro
    FROM x CROSS JOIN y
),
sx AS (
    SELECT x_id, CAST(SUM(cos_micro) AS BIGINT) AS sx FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                                     ORDER BY cos_micro DESC, y_id ASC) AS rn
        FROM pairs) t
    WHERE rn <= {knn} GROUP BY x_id
),
sy AS (
    SELECT y_id, CAST(SUM(cos_micro) AS BIGINT) AS sy FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY y_id
                                     ORDER BY cos_micro DESC, x_id ASC) AS rn
        FROM pairs) t
    WHERE rn <= {knn} GROUP BY y_id
),
margined AS (
    SELECT x_id, y_id, cos_micro,
           CAST(cos_micro * 2 * {knn} * 1000000 // (sx + sy) AS BIGINT) AS margin_ppm
    FROM pairs JOIN sx USING (x_id) JOIN sy USING (y_id)
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY margin_ppm DESC, x_id ASC, y_id ASC)
            AS BIGINT) AS rank,
       x_id, y_id, cos_micro, margin_ppm
FROM margined
WHERE margin_ppm >= 1000000
QUALIFY rank <= {top_n}
"""


def embedding_dim_stats(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding statistics (mean / min / max / variance in
    micro-units) — the pre-indexing normalization audit: dead dims, scale
    imbalances and mean offsets all surface here before they poison cosine
    or PQ codebooks.

    One posexplode + one (dim)-keyed aggregation of int64 micro components;
    variance from the (Σv, Σv²) sufficient statistics — the same mergeable
    pattern as the Pearson operator.  Output stays integer/exact except the
    final divisions of identical int64 operands.
    """
    comps = embeddings.select(
        F.posexplode(
            F.expr(
                "transform(cast(embedding as array<double>), "
                "x -> cast(round(x * 1000000, 0) as bigint))"
            )
        ).alias("dim", "v")
    )
    stats = comps.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    return stats.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("sv").cast("double") / F.col("n") / 1e6, 6).alias("mean"),
        (F.col("mn").cast("double") / 1e6).alias("min"),
        (F.col("mx").cast("double") / 1e6).alias("max"),
        F.round(
            (
                F.col("svv").cast("double") / F.col("n")
                - (F.col("sv").cast("double") / F.col("n"))
                * (F.col("sv").cast("double") / F.col("n"))
            )
            / 1e12,
            6,
        ).alias("variance"),
        # coalesce(1)+sortWithinPartitions, not orderBy: the output is D rows
        # (embedding dimensionality, bounded ≤ a few thousand at any corpus
        # scale), and a global orderBy costs a range-partitioning sampling job
        # that dominated this query's wall time (0.65 s → 0.33 s at sf0.1).
    ).coalesce(1).sortWithinPartitions("dim")


EMBEDDING_DIM_STATS_SQL = """
WITH comps AS (
    SELECT i - 1 AS dim,
           CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
    FROM embeddings, UNNEST(range(1, LEN(embedding) + 1)) AS u(i)
),
stats AS (
    SELECT dim, COUNT(*) AS n,
           CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv,
           MIN(v) AS mn, MAX(v) AS mx
    FROM comps GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim,
       ROUND(CAST(sv AS DOUBLE) / n / 1e6, 6) AS mean,
       CAST(mn AS DOUBLE) / 1e6 AS min,
       CAST(mx AS DOUBLE) / 1e6 AS max,
       ROUND((CAST(svv AS DOUBLE) / n
              - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)) / 1e12,
             6) AS variance
FROM stats
ORDER BY dim
"""


def _l2_pairs_gemm(embeddings: DataFrame, id_col: str, vec_col: str,
                   n_blk: int = 4, per_query_topk: int | None = None) -> DataFrame:
    """All-pairs exact L2 distances (micro-unit int64) as a block-tile Arrow
    gemm: ids hash into ``n_blk`` row blocks, each (bx, by) tile is one
    ``applyInPandas`` group computing its distance tile from ONE int64
    matmul (d² = |x|² + |y|² − 2x·y — every term exact).  Same tile shape
    as the bitext miner; the interpreted per-pair fold would be ~50× slower
    and the long-form dim join multiplies rows by the dimension count.
    Output: (query_id, neighbor_id, d2), self-pairs excluded.

    ``per_query_topk=k`` keeps, per tile, only each query's k nearest BY
    (d2, neighbor_id) — map-side partial top-k (the combiner idiom): a
    query's global k nearest are each the nearest within their own tile,
    so the union of tile-local top-ks provably contains the global top-k
    and the downstream rank produces identical rows.  The pair exchange
    then carries N·k·n_blk rows instead of N² (4M → 160k at the eval
    corpus; the gemm compute itself is unchanged and stays in the tile).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    spark = embeddings.sparkSession
    enc = (
        "transform(" + vec_col + ", v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))"
    )
    # NULL ids / NULL or zero-length vectors cannot participate in distance
    # tiles (np.stack would crash on ragged input; dirty rows are routine
    # at 100 TB) — same guard as the brute-force/kmeans paths (r6).
    base = embeddings.filter(
        F.col(id_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(F.col(id_col).alias("_id"), F.expr(enc).alias("mv"))
    tiles = (
        spark.range(n_blk)
        .select(F.col("id").alias("bx"))
        .crossJoin(spark.range(n_blk).select(F.col("id").alias("by")))
    )
    lhs = (
        base.withColumn("blk", F.pmod(F.xxhash64("_id"), F.lit(n_blk)))
        .join(F.broadcast(tiles), F.col("blk") == F.col("bx"))
        .select("bx", "by", "_id", "mv", F.lit(0).alias("side"))
    )
    rhs = (
        base.withColumn("blk", F.pmod(F.xxhash64("_id"), F.lit(n_blk)))
        .join(F.broadcast(tiles), F.col("blk") == F.col("by"))
        .select("bx", "by", "_id", "mv", F.lit(1).alias("side"))
    )
    out_schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("neighbor_id", LongType(), False),
            StructField("d2", LongType(), False),
        ]
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        px, py = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        if px.empty or py.empty:
            return pd.DataFrame(
                {
                    "query_id": pd.array([], dtype="int64"),
                    "neighbor_id": pd.array([], dtype="int64"),
                    "d2": pd.array([], dtype="int64"),
                }
            )
        xi = px["_id"].to_numpy(dtype=np.int64)
        yi = py["_id"].to_numpy(dtype=np.int64)
        xm = np.stack(px["mv"].to_numpy()).astype(np.int64)
        ym = np.stack(py["mv"].to_numpy()).astype(np.int64)
        if per_query_topk is not None:
            # columns sorted by neighbor id so a STABLE argsort on d2 alone
            # breaks ties by ascending neighbor_id — the exact (d2, id)
            # order the downstream global rank uses
            yo = np.argsort(yi, kind="stable")
            yi, ym = yi[yo], ym[yo]
        d2 = (
            (xm * xm).sum(axis=1)[:, None]
            + (ym * ym).sum(axis=1)[None, :]
            - 2 * (xm @ ym.T)
        )
        if per_query_topk is not None:
            kk = min(int(per_query_topk), d2.shape[1])
            # self-pairs must not occupy a top-k slot (they are excluded
            # from the result): push them past every real candidate
            d2m = np.where(
                yi[None, :] == xi[:, None], np.iinfo(np.int64).max, d2
            )
            idx = np.argsort(d2m, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(len(xi)), kk)
            cols = idx.ravel()
            out = pd.DataFrame(
                {
                    "query_id": xi[rows],
                    "neighbor_id": yi[cols],
                    "d2": d2[rows, cols],
                }
            )
            return out[out["query_id"] != out["neighbor_id"]]
        gi, gj = np.meshgrid(np.arange(len(xi)), np.arange(len(yi)), indexing="ij")
        out = pd.DataFrame(
            {
                "query_id": xi[gi.ravel()],
                "neighbor_id": yi[gj.ravel()],
                "d2": d2.ravel(),
            }
        )
        return out[out["query_id"] != out["neighbor_id"]]

    return (
        lhs.unionByName(rhs)
        .groupBy("bx", "by")
        .applyInPandas(kernel, schema=out_schema)
    )


def exact_pair_distances(
    embeddings: DataFrame, candidates: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact int64-micro L2 distances for an EXPLICIT candidate pair
    relation (query_id, neighbor_id) — the verify kernel of the
    candidates-backed kNN-graph path.  Two joins bind each side's scaled
    vector, then d² folds JVM-side via zip_with/aggregate (no Python, no
    gemm): per-pair O(dim) over only the candidate volume, which is what
    makes the ANN swap a real scale lever rather than documentation."""
    enc = (
        "transform(" + vec_col
        + ", v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))"
    )
    base = embeddings.select(F.col(id_col).alias("_pid"), F.expr(enc).alias("_mv"))
    return (
        candidates.select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
        .join(
            base.select(F.col("_pid").alias("query_id"), F.col("_mv").alias("_ma")),
            "query_id",
        )
        .join(
            base.select(
                F.col("_pid").alias("neighbor_id"), F.col("_mv").alias("_mb")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("_ma", "_mb", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2"),
        )
    )


def ivf_graph_candidates(
    embeddings: DataFrame, n_cells: int = 16, n_probe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF candidate pairs for kNN-graph construction: each vector probes
    its ``n_probe`` nearest coarse cells, candidates = pairs sharing ANY
    probed cell (both directions, self excluded).  At corpus scale the
    cell-keyed self-join bounds pair volume at n_probe²·Σ|cell|² instead of
    N², and the cell key is what the shuffle rides — n_cells/n_probe is the
    standard IVF recall/cost dial (multi-probe recovers the cross-boundary
    neighbors single-assignment misses, which matters most on uniform data
    with no cluster structure)."""
    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("centroid")
    )
    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        id_col, "cell", F.round(_sq_l2(F.col("v"), F.col("centroid")), 6).alias("d2")
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("d2"), F.asc("cell"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(id_col, "cell")
        .localCheckpoint(eager=True)
    )
    a = assign.select(F.col(id_col).alias("query_id"), "cell")
    b = assign.select(F.col(id_col).alias("neighbor_id"), "cell")
    return (
        a.join(b, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def knn_graph_edges(
    embeddings: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", candidates: DataFrame | None = None,
) -> DataFrame:
    """Directed kNN graph (query_id, neighbor_id): each node's k nearest by
    int64 micro L2, ties broken by neighbor id.

    ``candidates=None`` (eval default) ranks ALL pairs via the block-tile
    gemm — exact, O(N²) tiles, fine for bounded corpora.  At corpus scale
    pass an ANN candidate relation (query_id, neighbor_id) — e.g.
    :func:`ivf_graph_candidates` or an SQ8/IVF-PQ ranking — and only those
    pairs are exactly scored (:func:`exact_pair_distances`); the downstream
    graph algebra is unchanged and the all-pairs gemm never runs
    (plan-guarded in tests/test_plans.py)."""
    if candidates is None:
        # tile-local partial top-k: the pair exchange feeding the global
        # rank carries N·k·n_blk rows instead of N² (identical final rows —
        # a query's global k nearest are each top-k within their own tile)
        pairs = _l2_pairs_gemm(embeddings, id_col, vec_col, per_query_topk=k)
    else:
        pairs = exact_pair_distances(embeddings, candidates, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )


def knn_mutual_edges(
    embeddings: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", candidates: DataFrame | None = None,
) -> DataFrame:
    """Directed edges of :func:`knn_graph_edges` restricted to RECIPROCATED
    pairs — the single definition of graph mutuality every kNN-graph
    operator (degree, clustering, BFS) consumes.  Checkpointed: the gemm
    ranking runs once per call site, not per downstream join."""
    edges = knn_graph_edges(
        embeddings, k, id_col, vec_col, candidates
    ).localCheckpoint(eager=True)
    rev = edges.select(
        F.col("neighbor_id").alias("query_id"), F.col("query_id").alias("neighbor_id")
    )
    return edges.join(rev, ["query_id", "neighbor_id"], "left_semi")


def knn_graph_mutual_degree(
    embeddings: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", candidates: DataFrame | None = None,
) -> DataFrame:
    """Mutual-kNN degree distribution — the connectivity health-check run
    before any kNN-graph algorithm (clustering, label propagation,
    diffusion): how many of each node's k edges are reciprocated.  Sparse
    mutual graphs (mass at low degrees) signal hubness or disconnected
    manifolds.  The mutual join keys on the (k·N)-row edge relation, never
    on pairs; the histogram is |k|+1 rows."""
    mutual = knn_mutual_edges(embeddings, k, id_col, vec_col, candidates)
    deg = (
        embeddings.select(F.col(id_col).alias("query_id"))
        .join(
            mutual.groupBy("query_id").agg(F.count(F.lit(1)).alias("md")),
            "query_id",
            "left",
        )
        .select(F.coalesce(F.col("md"), F.lit(0)).cast("bigint").alias("mutual_degree"))
    )
    return (
        deg.groupBy("mutual_degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("mutual_degree")
    )


def knn_label_homophily(
    embeddings: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", label_col: str = "label",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Per-label kNN homophily: the fraction of each label's outgoing kNN
    edges that land on a same-label neighbor — the embedding-quality metric
    (a good representation keeps classes locally pure; homophily ≈ 1/|labels|
    means the space carries no class signal).  Exact ppm integers."""
    edges = knn_graph_edges(embeddings, k, id_col, vec_col, candidates)
    lab = embeddings.select(F.col(id_col), F.col(label_col).cast("bigint").alias("lab"))
    ql = lab.select(F.col(id_col).alias("query_id"), F.col("lab").alias("q_lab"))
    nl = lab.select(F.col(id_col).alias("neighbor_id"), F.col("lab").alias("n_lab"))
    scored = edges.join(F.broadcast(ql), "query_id").join(
        F.broadcast(nl), "neighbor_id"
    )
    return (
        scored.groupBy(F.col("q_lab").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum((F.col("q_lab") == F.col("n_lab")).cast("bigint")).alias("n_same"),
        )
        .select(
            "label",
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_same").cast("bigint").alias("n_same"),
            F.expr("n_same * 1000000 DIV n_edges").alias("homophily_ppm"),
        )
        .orderBy("label")
    )


_KNN_GRAPH_EDGES_CTE = """
vm AS (
    SELECT vec_id, i - 1 AS dim,
           CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
    FROM (SELECT vec_id, UNNEST(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(SUM((q.xm - c.xm) * (q.xm - c.xm)) AS BIGINT) AS d2
    FROM vm q JOIN vm c USING (dim)
    WHERE q.vec_id != c.vec_id
    GROUP BY 1, 2
),
edges AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2 ASC, neighbor_id ASC) AS rn
        FROM scored
    ) r WHERE rn <= {k}
)"""

KNN_MUTUAL_DEGREE_SQL_TEMPLATE = (
    "WITH " + _KNN_GRAPH_EDGES_CTE + """,
mutual AS (
    SELECT e1.query_id, e1.neighbor_id
    FROM edges e1 JOIN edges e2
      ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
),
deg AS (
    SELECT v.vec_id,
           CAST(COALESCE(m.c, 0) AS BIGINT) AS mutual_degree
    FROM (SELECT DISTINCT vec_id FROM embeddings) v
    LEFT JOIN (SELECT query_id, COUNT(*) AS c FROM mutual GROUP BY 1) m
      ON v.vec_id = m.query_id
)
SELECT mutual_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1 ORDER BY 1
"""
)

KNN_HOMOPHILY_SQL_TEMPLATE = (
    "WITH " + _KNN_GRAPH_EDGES_CTE + """
SELECT CAST(ql.label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same,
       CAST(SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS homophily_ppm
FROM edges e
JOIN embeddings ql ON e.query_id = ql.vec_id
JOIN embeddings nl ON e.neighbor_id = nl.vec_id
GROUP BY 1 ORDER BY 1
"""
)


def knn_pagerank(
    embeddings: DataFrame, k: int = 5, n_iters: int = 5,
    damping_pct: int = 85, id_col: str = "vec_id", vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the directed exact-kNN graph — graph centrality as a
    data-curation signal (high-rank nodes are the corpus's prototypical
    points; low-rank ones are outliers feeding nobody's neighborhood).

    Determinism: every node's out-degree is exactly k, so one floor
    division per edge contribution (``r div k``) plus the damped update
    ``(100−d)·10⁶/100 + d·Σ div 100`` keeps ranks exact int64 micro-units
    through every iteration — the oracle replays the identical algebra as
    chained CTEs (same recipe as ``kmeans_refine``).

    Distributed shape: the edge relation (k·N rows, 16 B/row) is
    checkpointed ONCE; each iteration is one shuffle keyed by dst plus a
    broadcast-size rank relation, re-checkpointed per step so the lazy
    plan never replays earlier iterations.  O(iters) jobs at any scale.
    """
    edges = knn_graph_edges(
        embeddings, k, id_col, vec_col, candidates
    ).localCheckpoint(eager=True)
    # DISTINCT ids, as the oracle's node set: a repeated id row must not
    # multiply its rank mass or its output row
    nodes = (
        embeddings.select(F.col(id_col).alias("vec_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    base = (100 - damping_pct) * 1_000_000 // 100
    # nodes with NO in-edge receive m = 0 every iteration, i.e. the
    # constant rank ``base`` — compute that set ONCE and union it back per
    # step instead of left-joining the full node set every iteration (the
    # label-propagation restructure; the contribution aggregate covers
    # exactly the nodes with >= 1 in-edge, so the coalesce branch only
    # ever fired for this constant set).
    noin = (
        nodes.join(
            edges.select(F.col("neighbor_id").alias("vec_id")),
            "vec_id",
            "left_anti",
        )
        .select("vec_id", F.lit(base).cast("bigint").alias("r"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("vec_id", F.lit(1_000_000).cast("bigint").alias("r"))
    for _ in range(n_iters):
        contrib = (
            edges.join(
                ranks.select(F.col("vec_id").alias("query_id"), "r"), "query_id"
            )
            .groupBy(F.col("neighbor_id").alias("vec_id"))
            .agg(F.sum(F.expr(f"r DIV {k}")).alias("m"))
        )
        ranks = (
            contrib.select(
                "vec_id",
                F.expr(
                    f"CAST({base} + ({damping_pct} * m) DIV 100 AS BIGINT)"
                ).alias("r"),
            )
            .unionByName(noin)
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "vec_id", F.col("r").alias("rank_micro")
    ).orderBy(F.desc("rank_micro"), "vec_id")


def knn_pagerank_sql(k: int = 5, n_iters: int = 5, damping_pct: int = 85) -> str:
    """DuckDB oracle for :func:`knn_pagerank`: identical integer updates,
    one CTE pair (contribution, rank) per iteration."""
    base = (100 - damping_pct) * 1_000_000 // 100
    parts = [
        "WITH "
        + _KNN_GRAPH_EDGES_CTE.format(k=k)
        + """,
nodes AS (SELECT DISTINCT vec_id FROM embeddings),
r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f""",
c{t} AS (
    SELECT e.neighbor_id AS vec_id, CAST(SUM(r.r // {k}) AS BIGINT) AS m
    FROM edges e JOIN r{t - 1} r ON e.query_id = r.vec_id
    GROUP BY 1
),
r{t} AS (
    SELECT n.vec_id,
           CAST({base} + ({damping_pct} * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
    FROM nodes n LEFT JOIN c{t} c USING (vec_id)
)"""
        )
    parts.append(
        f"""
SELECT vec_id, r AS rank_micro FROM r{n_iters}
ORDER BY rank_micro DESC, vec_id"""
    )
    return "".join(parts)


def knn_label_propagation(
    embeddings: DataFrame, k: int = 5, n_iters: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Label-propagation communities over the UNDIRECTED mutual-kNN graph
    (Raghavan et al. 2007, synchronous variant) — the cheap community
    detector a curation pipeline runs to find topical clusters / dup
    families without a target cluster count.  Every node starts as its
    own label; each iteration reassigns it the most frequent label among
    its mutual neighbors, and after ``n_iters`` rounds the surviving
    labels are the communities.

    Determinism (the hard part of LPA — the classic formulation breaks
    ties randomly and updates asynchronously): updates are SYNCHRONOUS
    (iteration t reads only iteration t-1's labels), the tie-break is
    total (neighbor-label count DESC, then smallest label), the
    iteration count is FIXED rather than convergence-tested, and
    isolated nodes (no mutual edges) keep their own label — so the
    result is pure integer algebra both engines replay identically.

    Distributed shape (the ``knn_pagerank`` recipe): the mutual edge
    relation (≤ k·N rows of two int64s) is checkpointed once; each
    iteration is ONE hash shuffle keyed by node (the neighbor-label
    count) plus an aggregate argmax sharing that exchange,
    re-checkpointed per step so the lazy plan never replays earlier
    iterations.  O(iters) jobs at any scale, and the labels relation
    never carries text or vectors."""
    mutual = knn_mutual_edges(embeddings, k, id_col, vec_col, candidates)
    adj = (
        mutual.select(F.col("query_id").alias("v"), F.col("neighbor_id").alias("u"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        embeddings.select(F.col(id_col).alias("vec_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # ISOLATED nodes (no mutual edge) never appear in adj — as v or u, the
    # relation is symmetric — so their label is their own id at every
    # iteration and none of their rows can influence a connected node's
    # count.  Compute them ONCE and union them back per step instead of
    # left-joining the full node set every iteration (guide §1.2: the old
    # shape re-ran a nodes⟕winner join per iteration whose only effect was
    # re-attaching these constant rows; a connected node always has ≥ 1
    # neighbor-label count, so `winner` covers every connected node and
    # the coalesce branch only ever fired for isolated ones).
    isolated = (
        nodes.join(adj.select(F.col("v").alias("vec_id")), "vec_id", "left_anti")
        .select("vec_id", F.col("vec_id").cast("bigint").alias("lab"))
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("vec_id", F.col("vec_id").cast("bigint").alias("lab"))
    for _ in range(n_iters):
        # re-key the joined edges by v BEFORE the (v, lab) count: hash(v)
        # satisfies both the groupBy's (v, lab) clustering AND the argmax
        # aggregate's vec_id grouping (guide §2.4 — two operations keyed
        # the same way share one exchange).  The repartition ships raw
        # (v, lab) edge rows where the old shape shipped (v, lab) partial
        # counts — equal volume, since mutual-kNN degree ≤ k means
        # map-side partials almost never combine.  The argmax itself is
        # min_by over the (-c, lab) struct — highest count, then smallest
        # label, the same total tie-break as the previous row_number
        # window without its per-partition sort (c ≥ 1 bounds -c safely;
        # labels are never negated).  A/B vs the window+left-join shape:
        # identical rows, 2.34 → 1.98 s warm median.
        counts = (
            adj.join(
                labels.select(F.col("vec_id").alias("u"), "lab"), "u"
            )
            .repartition("v")
            .groupBy(F.col("v").alias("vec_id"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winner = counts.groupBy("vec_id").agg(
            F.min_by(
                "lab", F.struct((-F.col("c")).alias("nc"), F.col("lab"))
            ).alias("lab")
        )
        labels = winner.unionByName(isolated).localCheckpoint(eager=True)
    return labels.select(
        "vec_id", F.col("lab").alias("community")
    ).orderBy("vec_id")


def knn_label_propagation_sql(k: int = 5, n_iters: int = 4) -> str:
    """DuckDB oracle for :func:`knn_label_propagation`: identical
    synchronous integer updates, one CTE pair (neighbor-label counts,
    window argmax) per iteration — the ``knn_pagerank_sql`` recipe."""
    parts = [
        "WITH "
        + _KNN_GRAPH_EDGES_CTE.format(k=k)
        + """,
mutual AS (
    SELECT e1.query_id AS v, e1.neighbor_id AS u
    FROM edges e1 JOIN edges e2
      ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
),
nodes AS (SELECT DISTINCT vec_id FROM embeddings),
l0 AS (SELECT vec_id, CAST(vec_id AS BIGINT) AS lab FROM nodes)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f""",
c{t} AS (
    SELECT m.v AS vec_id, l.lab, COUNT(*) AS c
    FROM mutual m JOIN l{t - 1} l ON m.u = l.vec_id
    GROUP BY 1, 2
),
w{t} AS (
    SELECT vec_id, lab FROM (
        SELECT vec_id, lab,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, lab ASC) AS rn
        FROM c{t}
    ) r WHERE rn = 1
),
l{t} AS (
    SELECT n.vec_id,
           CAST(COALESCE(w.lab, n.vec_id) AS BIGINT) AS lab
    FROM nodes n LEFT JOIN w{t} w USING (vec_id)
)"""
        )
    parts.append(
        f"""
SELECT vec_id, lab AS community FROM l{n_iters}
ORDER BY vec_id"""
    )
    return "".join(parts)


def knn_clustering_coefficients(
    embeddings: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", candidates: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients on the
    UNDIRECTED mutual-kNN graph — the manifold-structure readout (high
    coefficients = locally dense cluster interiors, zeros = bridges and
    outliers).  Wedges enumerate only within mutual neighborhoods
    (degree ≤ k, so ≤ N·k² wedge rows); triangle closure is one semi join
    back onto the edge set; the coefficient is exact ppm.  Nodes of
    mutual degree < 2 have no defined coefficient and are excluded."""
    mutual = knn_mutual_edges(embeddings, k, id_col, vec_col, candidates)
    und = mutual.filter(F.col("query_id") < F.col("neighbor_id")).select(
        F.col("query_id").alias("a"), F.col("neighbor_id").alias("b")
    ).localCheckpoint(eager=True)
    adj = und.select("a", "b").union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("v"), F.col("b").alias("u"))
    wedges = (
        adj.select("v", F.col("u").alias("x"))
        .join(adj.select("v", F.col("u").alias("y")), "v")
        .filter(F.col("x") < F.col("y"))
    )
    closed = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"],
        "left_semi",
    )
    tri = closed.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("triangles"),
            F.expr("COALESCE(t, 0) * 2 * 1000000 DIV (d * (d - 1))").alias(
                "clustering_ppm"
            ),
        )
        .orderBy("vec_id")
    )


KNN_CLUSTERING_SQL_TEMPLATE = (
    "WITH " + _KNN_GRAPH_EDGES_CTE + """,
mutual AS (
    SELECT e1.query_id, e1.neighbor_id
    FROM edges e1 JOIN edges e2
      ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
),
und AS (
    SELECT query_id AS a, neighbor_id AS b FROM mutual WHERE query_id < neighbor_id
),
adj AS (
    SELECT a AS v, b AS u FROM und UNION ALL SELECT b AS v, a AS u FROM und
),
wedges AS (
    SELECT l.v, l.u AS x, r.u AS y
    FROM adj l JOIN adj r ON l.v = r.v AND l.u < r.u
),
closed AS (
    SELECT w.v FROM wedges w
    WHERE EXISTS (SELECT 1 FROM und e WHERE e.a = w.x AND e.b = w.y)
),
tri AS (SELECT v, COUNT(*) AS t FROM closed GROUP BY v),
deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY v)
SELECT deg.v AS vec_id,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
       CAST(COALESCE(tri.t, 0) * 2 * 1000000 // (deg.d * (deg.d - 1)) AS BIGINT)
           AS clustering_ppm
FROM deg LEFT JOIN tri ON deg.v = tri.v
WHERE deg.d >= 2
ORDER BY vec_id
"""
)


def _ndcg_weights_micro(k: int) -> list[int]:
    """Micro-unit DCG rank discounts ``round(10⁶ / log2(i+1))`` computed
    ONCE in Python and embedded as literals in BOTH engines — log2 is the
    only irrational in nDCG, so freezing it makes the whole metric exact
    integer arithmetic."""
    import math

    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_eval(
    embeddings: DataFrame, num_queries: int = 10, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding", label_col: str = "label",
) -> DataFrame:
    """Per-query retrieval quality of the exact L2 ranking under
    label-match relevance: nDCG@k and reciprocal rank — the IR eval pair
    every retrieval stack reports.  Relevance is binary (neighbor shares
    the query's label), DCG uses frozen micro-unit discounts
    (:func:`_ndcg_weights_micro`), the ideal DCG truncates at
    ``min(k, R)`` for R same-label candidates in the corpus, and
    RR = ⌊10⁶ / first-relevant-rank⌋ — every output is exact int64, so
    even this "float" metric is value-hash checkable.

    Scale: ranks come from any (query, neighbor, rank) relation — swap the
    exact ranking for an ANN one (the audit then measures the INDEX, like
    ``x_ann_recall``); labels broadcast; per-query aggregates are k rows.
    """
    w = _ndcg_weights_micro(k)
    prefix = [sum(w[: i + 1]) for i in range(k)]
    queries = embeddings.filter(F.col(id_col) < num_queries)
    ranks = l2_topk_exact(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    lab = embeddings.select(F.col(id_col), F.col(label_col).cast("bigint").alias("lab"))
    ql = lab.select(F.col(id_col).alias("query_id"), F.col("lab").alias("q_lab"))
    nl = lab.select(F.col(id_col).alias("neighbor_id"), F.col("lab").alias("n_lab"))
    scored = (
        ranks.join(F.broadcast(ql), "query_id")
        .join(F.broadcast(nl), "neighbor_id")
        .select(
            "query_id",
            "rank",
            "q_lab",
            (F.col("q_lab") == F.col("n_lab")).cast("bigint").alias("rel"),
        )
    )
    warr = "array(" + ", ".join(str(x) for x in w) + ")"
    per_q = scored.groupBy("query_id", "q_lab").agg(
        F.sum(F.expr(f"rel * element_at({warr}, CAST(rank AS INT))")).alias(
            "dcg_micro"
        ),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
    )
    # R = same-label candidates available (label size - the query itself)
    lsize = lab.groupBy("lab").agg(F.count(F.lit(1)).alias("ls"))
    parr = "array(" + ", ".join(str(x) for x in prefix) + ")"
    return (
        per_q.join(
            F.broadcast(lsize), per_q["q_lab"] == lsize["lab"]
        )
        .select(
            "query_id",
            F.col("dcg_micro").cast("bigint").alias("dcg_micro"),
            F.expr(
                f"CAST(element_at({parr}, CAST(GREATEST(1, LEAST({k}, ls - 1)) AS INT)) "
                "AS BIGINT)"
            ).alias("idcg_micro"),
            F.expr(
                f"dcg_micro * 1000000 DIV element_at({parr}, "
                f"CAST(GREATEST(1, LEAST({k}, ls - 1)) AS INT))"
            ).alias("ndcg_ppm"),
            F.coalesce(
                F.expr("1000000 DIV first_rel"), F.lit(0)
            ).cast("bigint").alias("rr_micro"),
        )
        .orderBy("query_id")
    )


def retrieval_eval_sql(num_queries: int = 10, k: int = 5) -> str:
    """DuckDB oracle for :func:`retrieval_eval`: same ranking CTE as the
    L2 ground truth, same frozen micro-discount literals."""
    w = _ndcg_weights_micro(k)
    prefix = [sum(w[: i + 1]) for i in range(k)]
    wcase = "CASE rank " + " ".join(
        f"WHEN {i + 1} THEN {x}" for i, x in enumerate(w)
    ) + " END"
    pcase = "CASE GREATEST(1, LEAST(" + str(k) + ", ls - 1)) " + " ".join(
        f"WHEN {i + 1} THEN {x}" for i, x in enumerate(prefix)
    ) + " END"
    return f"""
WITH vm AS (
    SELECT vec_id, i - 1 AS dim,
           CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM((q.xm - c.xm) * (q.xm - c.xm)) AS d2
    FROM vm c JOIN vm q USING (dim)
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
    GROUP BY q.vec_id, c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, rn AS rank FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2 ASC, neighbor_id ASC) AS rn
        FROM scored
    ) r WHERE rn <= {k}
),
rel AS (
    SELECT r.query_id, r.rank, ql.label AS q_lab,
           CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
    FROM ranked r
    JOIN embeddings ql ON r.query_id = ql.vec_id
    JOIN embeddings nl ON r.neighbor_id = nl.vec_id
),
per_q AS (
    SELECT query_id, q_lab,
           CAST(SUM(rel * ({wcase})) AS BIGINT) AS dcg_micro,
           MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel
    FROM rel GROUP BY 1, 2
),
lsize AS (SELECT label, COUNT(*) AS ls FROM embeddings GROUP BY label)
SELECT query_id, dcg_micro,
       CAST({pcase} AS BIGINT) AS idcg_micro,
       CAST(dcg_micro * 1000000 // ({pcase}) AS BIGINT) AS ndcg_ppm,
       CAST(COALESCE(1000000 // first_rel, 0) AS BIGINT) AS rr_micro
FROM per_q JOIN lsize ON per_q.q_lab = lsize.label
ORDER BY query_id
"""


def binary_quantize(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """1-bit binary quantization: each dimension's bit = (value > that
    dimension's trained mean), packed 32 dims per int64 word — the extreme
    end of the quantization family (SQ8 → PQ → binary): 32× less memory
    than float32 and Hamming scoring is XOR+popcount.  32-bit packing (not
    64) keeps every shift off the int64 sign bit, where Spark and DuckDB
    overflow behavior diverges.

    The trained quantizer (per-dim mean, floor micro) is one dim-row
    aggregate broadcast back; packing is a (vec, word) groupBy over the
    long-form relation.  Output: (vec_id, word_idx, w).
    """
    vm = _vec_micro_long(embeddings, id_col, vec_col)
    means = vm.groupBy("dim").agg(
        F.expr("CAST(SUM(xm) DIV COUNT(*) AS BIGINT)").alias("mu")
    )
    bits = vm.join(F.broadcast(means), "dim").select(
        id_col,
        (F.col("dim") / 32).cast("bigint").alias("word_idx"),
        F.expr("CAST(CASE WHEN xm > mu THEN 1 ELSE 0 END AS BIGINT) "
               "* CAST(pow(2, dim % 32) AS BIGINT)").alias("term"),
    )
    return (
        bits.groupBy(id_col, "word_idx")
        .agg(F.sum("term").cast("bigint").alias("w"))
    )


def binary_hamming_topk(
    embeddings: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hamming top-k over the binary codes: candidates score with
    XOR+bit_count per word (map-side combinable int sums), queries
    broadcast — the corpus scans its codes once, never the floats.  The
    standard first-pass retriever in front of an exact rerank; here it IS
    the output so the ranking itself is hash-checked.
    """
    codes = binary_quantize(embeddings, id_col, vec_col).localCheckpoint(
        eager=True
    )
    qc = codes.join(
        F.broadcast(
            embeddings.filter(F.col(id_col) < num_queries).select(id_col)
        ),
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("query_id"), "word_idx", F.col("w").alias("qw"))
    cc = codes.select(
        F.col(id_col).alias("neighbor_id"), "word_idx", F.col("w").alias("cw")
    )
    scored = (
        cc.join(F.broadcast(qc), "word_idx")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr("CAST(SUM(bit_count(qw ^ cw)) AS BIGINT)").alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


BINARY_HAMMING_SQL_TEMPLATE = (
    """
WITH vm AS ("""
    + _VM_SQL
    + """),
means AS (
    SELECT dim, CAST(SUM(xm) // COUNT(*) AS BIGINT) AS mu
    FROM vm GROUP BY dim
),
codes AS (
    SELECT vec_id, CAST(dim // 32 AS BIGINT) AS word_idx,
           CAST(SUM(CASE WHEN xm > mu THEN 1 ELSE 0 END
                    * CAST(pow(2, dim % 32) AS BIGINT)) AS BIGINT) AS w
    FROM vm JOIN means USING (dim)
    GROUP BY vec_id, dim // 32
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(SUM(bit_count(xor(q.w, c.w))) AS BIGINT) AS hamming
    FROM codes c JOIN codes q USING (word_idx)
    WHERE q.vec_id < {num_queries} AND c.vec_id != q.vec_id
    GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, neighbor_id, hamming, CAST(rn AS BIGINT) AS rank
FROM (
    SELECT query_id, neighbor_id, hamming,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC) AS rn
    FROM scored
) r WHERE rn <= {k}
ORDER BY query_id, rank
"""
)


def knn_bfs_hops(
    embeddings: DataFrame, source_id: int = 0, k: int = 5, max_hops: int = 6,
    id_col: str = "vec_id", vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Distributed BFS over the mutual-kNN graph: hop distance from a
    source node, reported as the hop histogram (nodes first reached at
    each depth, unreachable counted at hop −1) — the connectivity probe
    behind "how many hops does similarity propagate" and the frontier
    pattern every distributed graph traversal uses.

    Each hop is ONE join of the current frontier against the checkpointed
    edge relation plus an anti join against visited (both keyed on 8-byte
    ids); the loop stops early when the frontier empties.  O(diameter)
    jobs; at 100 TB frontier/visited are id-only relations.  The oracle
    replays BFS as a recursive CTE with per-path depth then MIN per node —
    same fixpoint, set-based.
    """
    mutual = (
        knn_mutual_edges(embeddings, k, id_col, vec_col, candidates)
        .select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint(eager=True)
    )
    spark = embeddings.sparkSession
    visited = values_relation(
        spark, [(source_id, 0)], f"{id_col} long, hop long"
    ).localCheckpoint(eager=True)
    frontier = visited.select(id_col)
    for hop in range(1, max_hops + 1):
        nxt = (
            mutual.join(
                frontier.withColumnRenamed(id_col, "src"), "src", "left_semi"
            )
            .select(F.col("dst").alias(id_col))
            .distinct()
            .join(visited.select(id_col), id_col, "left_anti")
        )
        # LAZY checkpoint + count in ONE job: the eager checkpoint
        # materialized the frontier and a separate limit(1).count() probed
        # emptiness — but the count IS the materializing action, so fusing
        # them halves the per-hop job count (the blocks persist on this
        # first computation exactly as with eager=True).
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        # no re-checkpoint of visited: it is a union of ALREADY-checkpointed
        # frontiers (the source row + one materialized nxt per hop), so its
        # lineage stays flat and each hop's anti-join scans the in-memory
        # blocks directly — re-materializing the whole visited set was one
        # extra job per hop for nothing
        visited = visited.union(
            nxt.select(id_col, F.lit(hop).cast("bigint").alias("hop"))
        )
        frontier = nxt
    labeled = (
        embeddings.select(id_col)
        .join(visited, id_col, "left")
        .select(F.coalesce(F.col("hop"), F.lit(-1)).cast("bigint").alias("hop"))
    )
    return (
        labeled.groupBy("hop")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("hop")
    )


def knn_bfs_sql(source_id: int = 0, k: int = 5, max_hops: int = 6) -> str:
    """DuckDB oracle for :func:`knn_bfs_hops` (recursive-CTE BFS)."""
    return (
        "WITH RECURSIVE "
        + _KNN_GRAPH_EDGES_CTE.format(k=k).lstrip()
        + f""",
mutual AS (
    SELECT e1.query_id AS src, e1.neighbor_id AS dst
    FROM edges e1 JOIN edges e2
      ON e1.query_id = e2.neighbor_id AND e1.neighbor_id = e2.query_id
),
walk(node, hop) AS (
    SELECT CAST({source_id} AS BIGINT), CAST(0 AS BIGINT)
    UNION
    SELECT m.dst, walk.hop + 1
    FROM mutual m JOIN walk ON m.src = walk.node
    WHERE walk.hop < {max_hops}
),
dist AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
SELECT CAST(COALESCE(d.hop, -1) AS BIGINT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM embeddings e LEFT JOIN dist d ON e.vec_id = d.node
GROUP BY 1 ORDER BY 1
"""
    )


def _scatter_gemm(cent: DataFrame, id_col: str, n_groups: int = 32) -> DataFrame:
    """Exact integer scatter matrix Σ c·cᵀ from the centered long form
    (id, dim, c) — as hash-grouped X.T@X int64 gemm partials instead of the
    id-keyed self-join (which materializes |corpus|·dims² rows through an
    exchange; the partials shuffle only the slim long form once and emit
    dims² rows per group).  Integer addition is associative, so any grouping
    gives the bit-identical sums the oracle computes."""
    import pandas as pd

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        A = pdf.pivot(index=id_col, columns="dim", values="c")
        M = A.to_numpy(dtype="int64")
        C = M.T @ M
        dims = A.columns.to_numpy(dtype="int64")
        ii, jj = np.meshgrid(dims, dims, indexing="ij")
        return pd.DataFrame(
            {"i": ii.ravel(), "j": jj.ravel(), "sij": C.ravel()}
        )

    return (
        cent.groupBy(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).alias("_g")
        )
        .applyInPandas(
            lambda _, pdf: partial(pdf), "i long, j long, sij long"
        )
        .groupBy("i", "j")
        .agg(F.sum("sij").alias("sij"))
    )


def pca_top_component(
    embeddings: DataFrame, n_iters: int = 6,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding corpus by POWER ITERATION —
    distributed linear algebra with every number an int64: values center
    in milli-units, the scatter matrix is exact integer sums, and each
    iteration renormalizes by integer division of the max component (no
    sqrt, no float drift), so even the eigenvector estimate is value-hash
    checkable cross-engine (the kmeans/PageRank determinism recipe applied
    to an eigenproblem).  Sign is fixed by making the largest-|·| component
    positive (smallest dim on ties).

    Shapes: ONE corpus pass builds the (i, j) scatter relation (dim² rows
    — 4096 for 64 dims — via hash-grouped X.T@X int64 gemm partials over
    the centered long form, :func:`_scatter_gemm`), collected once (the
    kmeans-centroid idiom: dim²-bounded regardless of corpus size); the
    power iterations then run driver-side in exact Python integer algebra —
    bit-identical to the former per-iteration broadcast-join jobs, minus
    ~25 scheduler rounds over a 1024-row relation.  EAGER: that collect
    runs the scatter job at call time (no lazy plan), and parity with the
    int64-based engines assumes the c·vj accumulations stay inside int64
    (milli-unit centered values keep them orders of magnitude below the
    ~9e18 line; document-scale inputs cannot overflow it).  At 100 TB the scatter
    aggregation is the only corpus-sized job — and it shuffles the slim
    (id, dim, c) long form exactly once; iterations cost nothing.  PCA
    whitening/compression at serving time is then a narrow projection
    against the frozen component.
    """
    vm = embeddings.select(
        F.col(id_col), F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x")
    ).select(
        id_col,
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x") * 1000, 0).cast("bigint").alias("xm"),
    )
    # +10000 offset keeps the dividend non-negative (|xm| < 10000 milli),
    # where Spark's truncating DIV and DuckDB's flooring // agree
    mu = vm.groupBy("dim").agg(
        F.expr(
            "CAST((SUM(xm) + 10000 * COUNT(*)) DIV COUNT(*) - 10000 AS BIGINT)"
        ).alias("mu")
    )
    cent = vm.join(F.broadcast(mu), "dim").select(
        id_col, "dim", (F.col("xm") - F.col("mu")).alias("c")
    )
    # Overflow budget (int64): the iteration product SUM(cij * v) must stay
    # under 2^63 at ANY corpus size, so (a) the scatter is divided by N up
    # front (covariance, eigenvector unchanged) — |cij| <= |xm|² = 1e8
    # regardless of N — and (b) v is held at 1e3 scale, bounding the summed
    # product by dims·1e8·1e3 ~ 6.4e12 for 64 dims.  The divide-first recipe
    # mirrors the abc_analysis fix; sign·(|x| DIV n) keeps Spark's truncating
    # DIV and DuckDB's flooring // in agreement on the negative entries.
    n_rel = embeddings.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    cov_rows = (
        _scatter_gemm(cent, id_col)
        .crossJoin(F.broadcast(n_rel))
        .select(
            "i",
            "j",
            F.expr(
                "CAST(CASE WHEN sij < 0 THEN -1 ELSE 1 END "
                "* (ABS(sij) DIV nn) AS BIGINT)"
            ).alias("cij"),
        )
        .collect()
    )
    # The power iterations run DRIVER-SIDE over the collected covariance:
    # cov is dims² rows by construction (4096 at 64 dims, corpus-size
    # independent — the kmeans-centroid collect idiom), and every iteration
    # quantity is exact int64 algebra (products, sums, ABS, truncating DIV)
    # that Python integers replicate bit-for-bit, so the resulting vector is
    # identical to the former per-iteration Spark jobs.  Those jobs were ~25
    # broadcast/agg/checkpoint rounds over a 1024-row relation — pure
    # scheduler machinery (guide §1.2: fix the distributed algorithm; here
    # the right distribution for dim²-bounded data is none at all).  The one
    # corpus-sized job — the scatter gemm — stays in Spark unchanged.
    spark = embeddings.sparkSession
    cij: dict[tuple[int, int], int] = {
        (r["i"], r["j"]): int(r["cij"]) for r in cov_rows
    }
    v = {d: 1000 for d in sorted({i for i, _ in cij})}
    for _ in range(n_iters):
        w: dict[int, int] = {}
        for (i, j), c in cij.items():
            vj = v.get(j)
            if vj is not None:  # inner-join semantics of the former plan
                w[i] = w.get(i, 0) + c * vj
        m = max((abs(x) for x in w.values()), default=0)
        g = max(1, m // 1000)
        # sign·(|w| div g): truncation toward zero in BOTH engines
        v = {d: (-1 if x < 0 else 1) * (abs(x) // g) for d, x in w.items()}
    # sign fix: the largest-|v| component (smallest dim on ties) is positive
    if v:
        top = min(v.items(), key=lambda kv: (-abs(kv[1]), kv[0]))
        sgn = -1 if top[1] < 0 else 1
        rows = [(d, x * sgn) for d, x in sorted(v.items())]
    else:
        rows = []
    return values_relation(
        spark, rows, "dim bigint, component bigint"
    ).orderBy("dim")


def pca_top_component_sql(n_iters: int = 6) -> str:
    """DuckDB oracle for :func:`pca_top_component`: identical integer
    scatter + power iterations as chained CTEs."""
    parts = [
        """WITH vm AS (
    SELECT vec_id, i - 1 AS dim,
           CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT) AS xm
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
mu AS (SELECT dim, CAST((SUM(xm) + 10000 * COUNT(*)) // COUNT(*) - 10000 AS BIGINT)
           AS mu FROM vm GROUP BY dim),
cent AS (
    SELECT vm.vec_id, vm.dim, CAST(vm.xm - mu.mu AS BIGINT) AS c
    FROM vm JOIN mu USING (dim)
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
cov AS (
    SELECT i, j, CAST((CASE WHEN sij < 0 THEN -1 ELSE 1 END)
                      * (ABS(sij) // nn.n) AS BIGINT) AS cij
    FROM (
        SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.c * b.c) AS BIGINT) AS sij
        FROM cent a JOIN cent b ON a.vec_id = b.vec_id
        GROUP BY a.dim, b.dim
    ) s CROSS JOIN nn
),
v0 AS (SELECT DISTINCT i AS dim, CAST(1000 AS BIGINT) AS v FROM cov)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f""",
w{t} AS (
    SELECT cov.i AS dim, CAST(SUM(cov.cij * p.v) AS BIGINT) AS w
    FROM cov JOIN v{t - 1} p ON cov.j = p.dim
    GROUP BY cov.i
),
m{t} AS (SELECT CAST(MAX(ABS(w)) AS BIGINT) AS m FROM w{t}),
v{t} AS (
    SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END)
                     * (ABS(w) // GREATEST(1, m // 1000)) AS BIGINT) AS v
    FROM w{t} CROSS JOIN m{t}
)"""
        )
    parts.append(
        f""",
sgn AS (
    SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
    FROM v{n_iters} ORDER BY ABS(v) DESC, dim ASC LIMIT 1
)
SELECT dim, CAST(v * sgn AS BIGINT) AS component
FROM v{n_iters} CROSS JOIN sgn
ORDER BY dim"""
    )
    return "".join(parts)


def knn_hubness(
    embeddings: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", candidates: DataFrame | None = None,
) -> DataFrame:
    """Hubness audit of the directed kNN graph: the in-degree distribution
    (how many nodes list each node among their top-k).  Out-degree is
    constant k, but in high dimensions in-degree concentrates on hub
    points — the pathology that silently biases kNN classification,
    retrieval, and graph clustering (Radovanović et al. 2010).  Mass at
    in-degree 0 (anti-hubs, never retrieved) is the complementary smell.
    One groupBy over the k·N edge relation; output ≤ max-in-degree rows."""
    edges = knn_graph_edges(embeddings, k, id_col, vec_col, candidates)
    indeg = (
        embeddings.select(F.col(id_col).alias("neighbor_id"))
        .join(
            edges.groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("d")),
            "neighbor_id",
            "left",
        )
        .select(F.coalesce(F.col("d"), F.lit(0)).cast("bigint").alias("in_degree"))
    )
    return (
        indeg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("in_degree")
    )


KNN_HUBNESS_SQL_TEMPLATE = (
    "WITH " + _KNN_GRAPH_EDGES_CTE + """,
indeg AS (
    SELECT e.vec_id,
           CAST(COALESCE(d.c, 0) AS BIGINT) AS in_degree
    FROM (SELECT DISTINCT vec_id FROM embeddings) e
    LEFT JOIN (SELECT neighbor_id, COUNT(*) AS c FROM edges GROUP BY 1) d
      ON e.vec_id = d.neighbor_id
)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM indeg GROUP BY in_degree ORDER BY in_degree
"""
)


def class_separation(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding class-separation matrix: off-diagonal cells hold the L2
    distance between label centroids, the diagonal holds each label's mean
    point-to-centroid distance (intra-class spread) — the Fisher-style
    separability readout (centroid gaps ≫ spreads = linearly separable
    classes; the matrix version of what ``x_knn_homophily`` measures
    locally).

    Centroids are per-(label, dim) integer-milli means (offset division so
    both engines floor identically); all distances are exact int64
    micro²-unit sums with ONE sqrt each at the end (6 dp).  Shapes: one
    corpus pass for centroids, one for spreads, |labels|² broadcast join
    for the gaps.
    """
    vm = embeddings.select(
        F.col(label_col).cast("bigint").alias("lab"),
        F.col(id_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"),
    ).select(
        "lab",
        id_col,
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x") * 1000, 0).cast("bigint").alias("xm"),
    )
    cent = vm.groupBy("lab", "dim").agg(
        F.expr(
            "CAST((SUM(xm) + 10000 * COUNT(*)) DIV COUNT(*) - 10000 AS BIGINT)"
        ).alias("c")
    ).localCheckpoint(eager=True)
    # off-diagonal: centroid-to-centroid L2 (micro = milli² sums)
    gaps = (
        cent.select(F.col("lab").alias("label_a"), "dim", F.col("c").alias("ca"))
        .join(
            cent.select(F.col("lab").alias("label_b"), "dim", F.col("c").alias("cb")),
            "dim",
        )
        .filter(F.col("label_a") != F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).alias("d2"))
    )
    # diagonal: mean point-to-own-centroid distance (per-point sqrt summed
    # as micro ints, then integer mean)
    pd2 = (
        vm.join(cent, ["lab", "dim"])
        .groupBy("lab", id_col)
        .agg(F.sum((F.col("xm") - F.col("c")) * (F.col("xm") - F.col("c"))).alias("d2"))
        .select(
            "lab",
            F.expr("CAST(ROUND(SQRT(CAST(d2 AS DOUBLE)), 0) AS BIGINT)").alias(
                "d_milli"
            ),
        )
    )
    diag = pd2.groupBy("lab").agg(
        F.expr("CAST(SUM(d_milli) DIV COUNT(*) AS BIGINT)").alias("v")
    ).select(
        F.col("lab").alias("label_a"), F.col("lab").alias("label_b"), "v"
    )
    off = gaps.select(
        "label_a",
        "label_b",
        F.expr("CAST(ROUND(SQRT(CAST(d2 AS DOUBLE)), 0) AS BIGINT)").alias("v"),
    )
    return (
        off.union(diag)
        .select("label_a", "label_b", F.col("v").alias("dist_milli"))
        .orderBy("label_a", "label_b")
    )


CLASS_SEPARATION_SQL = """
WITH vm AS (
    SELECT CAST(label AS BIGINT) AS lab, vec_id, i - 1 AS dim,
           CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT) AS xm
    FROM (SELECT label, vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
cent AS (
    SELECT lab, dim,
           CAST((SUM(xm) + 10000 * COUNT(*)) // COUNT(*) - 10000 AS BIGINT) AS c
    FROM vm GROUP BY lab, dim
),
gaps AS (
    SELECT a.lab AS label_a, b.lab AS label_b,
           CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS d2
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.lab != b.lab
    GROUP BY a.lab, b.lab
),
pd2 AS (
    SELECT vm.lab, vm.vec_id,
           CAST(ROUND(SQRT(CAST(SUM((vm.xm - c.c) * (vm.xm - c.c)) AS DOUBLE)), 0)
                AS BIGINT) AS d_milli
    FROM vm JOIN cent c ON vm.lab = c.lab AND vm.dim = c.dim
    GROUP BY vm.lab, vm.vec_id
),
diag AS (
    SELECT lab AS label_a, lab AS label_b,
           CAST(SUM(d_milli) // COUNT(*) AS BIGINT) AS v
    FROM pd2 GROUP BY lab
),
offd AS (
    SELECT label_a, label_b,
           CAST(ROUND(SQRT(CAST(d2 AS DOUBLE)), 0) AS BIGINT) AS v
    FROM gaps
)
SELECT label_a, label_b, v AS dist_milli
FROM (SELECT * FROM offd UNION ALL SELECT * FROM diag)
ORDER BY label_a, label_b
"""


def sq8_reconstruction_error(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Reconstruction-error report for the SQ8 quantizer: decode each code
    back to micro-units (x̂ = mn + code·(mx−mn) div 255) and report the
    per-dimension mean and max absolute error — the fidelity audit that
    decides whether 8-bit codes are safe for a given embedding family
    (heavy-tailed dims blow the per-dim linear grid).  Exact integers:
    decode and |x−x̂| never leave int64; one corpus pass."""
    vm = _vec_micro_long(embeddings, id_col, vec_col)
    stats = vm.groupBy("dim").agg(F.min("xm").alias("mn"), F.max("xm").alias("mx"))
    joined = vm.join(F.broadcast(stats), "dim")
    code = (
        F.when(F.col("mx") > F.col("mn"), F.expr("((xm - mn) * 255) div (mx - mn)"))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    recon = F.expr("mn + code * (mx - mn) DIV 255")
    err = joined.withColumn("code", code).select(
        "dim", F.abs(F.col("xm") - recon).alias("e")
    )
    return (
        err.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("e").alias("se"),
            F.max("e").alias("mx_e"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.expr("se DIV n").cast("bigint").alias("mean_abs_err_micro"),
            F.col("mx_e").cast("bigint").alias("max_abs_err_micro"),
        )
        .orderBy("dim")
    )


SQ8_RECON_ERROR_SQL = f"""
WITH vm AS ({_VM_SQL}),
stats AS (SELECT dim, MIN(xm) AS mn, MAX(xm) AS mx FROM vm GROUP BY dim),
err AS (
    SELECT vm.dim,
           ABS(vm.xm - (stats.mn
               + (CASE WHEN stats.mx > stats.mn
                       THEN ((vm.xm - stats.mn) * 255) // (stats.mx - stats.mn)
                       ELSE 0 END) * (stats.mx - stats.mn) // 255)) AS e
    FROM vm JOIN stats USING (dim)
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(SUM(e) // COUNT(*) AS BIGINT) AS mean_abs_err_micro,
       CAST(MAX(e) AS BIGINT) AS max_abs_err_micro
FROM err GROUP BY dim ORDER BY dim
"""


def cluster_purity(
    embeddings: DataFrame, n_cells: int = 16, id_col: str = "vec_id",
    vec_col: str = "embedding", label_col: str = "label",
) -> DataFrame:
    """IVF cluster purity against labels: per cell, the majority label's
    share (ppm) — the unsupervised-vs-supervised agreement readout that
    grades a coarse quantizer as a CLUSTERING (pure cells mean the index's
    partitions align with semantics, so n_probe can stay small for
    same-class queries).  One assignment pass + a |cells × labels| rollup.
    """
    assigned = ivf_assign(embeddings, n_cells, id_col, vec_col)
    lab = embeddings.select(F.col(id_col), F.col(label_col).cast("bigint").alias("lab"))
    cells = assigned.join(lab, id_col).groupBy("cell", "lab").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("lab"))
    tot = cells.groupBy("cell").agg(F.sum("n").alias("ct"))
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(tot, "cell")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("ct").cast("bigint").alias("n_members"),
            F.col("lab").alias("majority_label"),
            F.col("n").cast("bigint").alias("n_majority"),
            F.expr("n * 1000000 DIV ct").alias("purity_ppm"),
        )
        .orderBy("cell")
    )


CLUSTER_PURITY_SQL_TEMPLATE = """
WITH assigned AS ({ivf_sql}),
cells AS (
    SELECT a.cell, CAST(e.label AS BIGINT) AS lab, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned a JOIN embeddings e USING (vec_id)
    GROUP BY a.cell, e.label
),
tot AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS ct FROM cells GROUP BY cell),
ranked AS (
    SELECT cell, lab, n,
           ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, lab ASC) AS rn
    FROM cells
)
SELECT CAST(r.cell AS BIGINT) AS cell, t.ct AS n_members,
       r.lab AS majority_label, r.n AS n_majority,
       CAST(r.n * 1000000 // t.ct AS BIGINT) AS purity_ppm
FROM ranked r JOIN tot t ON r.cell = t.cell
WHERE r.rn = 1
ORDER BY cell
"""


def intrinsic_dimension(
    embeddings: DataFrame, num_queries: int = 200,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017):
    d̂ = (n−1) / Σ ln(r₂/r₁) over each point's two nearest neighbors —
    "how many dimensions does the data actually occupy" (embeddings
    advertising 64 dims often live on a ≤10-dim manifold; the gap prices
    how hard ANN compression can push).  Distance ratios come from the
    exact int64 micro-L2 top-2; each ln(d2₂/d2₁)/2 is one engine-exact
    float op rounded to micro-nats before the integer sum (the LM
    recipe).  Coincident points (r₁ = 0) are excluded, as the estimator
    requires.
    """
    top2 = l2_topk_exact(
        embeddings,
        embeddings.filter(F.col(id_col) < num_queries),
        k=2,
        id_col=id_col,
        vec_col=vec_col,
    )
    # need distances, not just ranks: recompute d2 for the top-2 pairs via
    # the same micro relation (k·N rows — cheap join, no extra gemm)
    vm = _vec_micro_long(embeddings, id_col, vec_col)
    qd = vm.select(F.col(id_col).alias("query_id"), "dim", F.col("xm").alias("q"))
    nd = vm.select(F.col(id_col).alias("neighbor_id"), "dim", F.col("xm").alias("c"))
    pairs = (
        top2.join(qd, "query_id")
        .join(nd, ["neighbor_id", "dim"])
        .groupBy("query_id", "rank")
        .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("d2"))
    )
    wide = pairs.groupBy("query_id").agg(
        F.sum(F.when(F.col("rank") == 1, F.col("d2"))).alias("d1"),
        F.sum(F.when(F.col("rank") == 2, F.col("d2"))).alias("d2b"),
    ).filter(F.col("d1") > 0)
    mu = wide.select(
        F.expr(
            "CAST(ROUND(LN(CAST(d2b AS DOUBLE) / d1) / 2.0 * 1000000, 0) "
            "AS BIGINT)"
        ).alias("lnr")
    )
    return mu.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("lnr").alias("s"),
    ).select(
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("s").cast("bigint").alias("sum_lnr_micro"),
        F.expr(
            "ROUND(CAST(n_points - 1 AS DOUBLE) "
            "/ (CAST(s AS DOUBLE) / 1000000.0), 4)"
        ).alias("intrinsic_dim"),
    )


def intrinsic_dimension_sql(num_queries: int = 200) -> str:
    return f"""
WITH vm AS (
    SELECT vec_id, i - 1 AS dim,
           CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(SUM((q.xm - c.xm) * (q.xm - c.xm)) AS BIGINT) AS d2
    FROM vm q JOIN vm c USING (dim)
    WHERE q.vec_id < {num_queries} AND q.vec_id != c.vec_id
    GROUP BY 1, 2
),
top2 AS (
    SELECT query_id, d2, rn FROM (
        SELECT query_id, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2 ASC, neighbor_id ASC) AS rn
        FROM scored
    ) WHERE rn <= 2
),
wide AS (
    SELECT query_id,
           CAST(SUM(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN rn = 2 THEN d2 END) AS BIGINT) AS d2b
    FROM top2 GROUP BY query_id
),
mu AS (
    SELECT CAST(ROUND(LN(CAST(d2b AS DOUBLE) / d1) / 2.0 * 1000000, 0) AS BIGINT)
               AS lnr
    FROM wide WHERE d1 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(lnr) AS BIGINT) AS sum_lnr_micro,
       ROUND(CAST(COUNT(*) - 1 AS DOUBLE)
             / (CAST(SUM(lnr) AS DOUBLE) / 1000000.0), 4) AS intrinsic_dim
FROM mu
"""


def embedding_outliers(
    embeddings: DataFrame, k: int = 20, id_col: str = "vec_id",
    vec_col: str = "embedding", label_col: str = "label",
) -> DataFrame:
    """Top-k embedding outliers: points farthest from their OWN label's
    centroid (milli-unit integer distances, the class_separation
    machinery) — mislabeled rows, corrupted vectors, and genuinely novel
    points all surface here first; the embedding-space twin of the
    value-anomaly screens.  One centroid pass + one distance pass + a
    k-row global window behind the (small) candidate relation."""
    vm = embeddings.select(
        F.col(label_col).cast("bigint").alias("lab"),
        F.col(id_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"),
    ).select(
        "lab",
        id_col,
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x") * 1000, 0).cast("bigint").alias("xm"),
    )
    cent = vm.groupBy("lab", "dim").agg(
        F.expr(
            "CAST((SUM(xm) + 10000 * COUNT(*)) DIV COUNT(*) - 10000 AS BIGINT)"
        ).alias("c")
    )
    d = (
        vm.join(F.broadcast(cent), ["lab", "dim"])
        .groupBy("lab", id_col)
        .agg(
            F.sum(
                (F.col("xm") - F.col("c")) * (F.col("xm") - F.col("c"))
            ).alias("d2")
        )
    )
    w = Window.orderBy(F.desc("d2"), F.asc(id_col))
    return (
        d.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "rank",
            F.col(id_col),
            F.col("lab").alias("label"),
            F.expr("CAST(ROUND(SQRT(CAST(d2 AS DOUBLE)), 0) AS BIGINT)").alias(
                "dist_milli"
            ),
        )
        .orderBy("rank")
    )


EMBEDDING_OUTLIERS_SQL_TEMPLATE = """
WITH vm AS (
    SELECT CAST(label AS BIGINT) AS lab, vec_id, i - 1 AS dim,
           CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT) AS xm
    FROM (SELECT label, vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
),
cent AS (
    SELECT lab, dim,
           CAST((SUM(xm) + 10000 * COUNT(*)) // COUNT(*) - 10000 AS BIGINT) AS c
    FROM vm GROUP BY lab, dim
),
d AS (
    SELECT vm.lab, vm.vec_id,
           CAST(SUM((vm.xm - c.c) * (vm.xm - c.c)) AS BIGINT) AS d2
    FROM vm JOIN cent c ON vm.lab = c.lab AND vm.dim = c.dim
    GROUP BY vm.lab, vm.vec_id
)
SELECT CAST(rn AS BIGINT) AS rank, vec_id, lab AS label,
       CAST(ROUND(SQRT(CAST(d2 AS DOUBLE)), 0) AS BIGINT) AS dist_milli
FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY d2 DESC, vec_id ASC) AS rn FROM d
) r WHERE rn <= {k}
ORDER BY rank
"""
