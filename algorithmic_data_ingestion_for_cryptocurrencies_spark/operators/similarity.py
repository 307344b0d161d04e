"""Similarity search over embedding columns (``array<float>``) —
north-star operator family (BASELINE.json): brute-force cosine top-k
as the exact baseline, plus a random-hyperplane-LSH bucketed variant
as the scale path.

Per-query scoring (top-k, kNN, IVF, k-means, LSH hyperplanes) uses
the higher-order functions :func:`dot` and :func:`norm` (``zip_with``
+ ``aggregate``, JVM-side). The near-pair tiers score with one NumPy
kernel (:func:`_near_pairs`) that vectorizes across pairs and adds
in the same order, so every cosine is bit-identical to :func:`cosine`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..store import genfile


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product: ``zip_with`` + ``aggregate``, accumulated left to
    right from 0.0 with each float product cast to double. This is the
    only scoring form. The higher-order functions are CodegenFallback
    (each element runs through an interpreted lambda), yet an unrolled
    ``element_at`` chain lost to them 8-10x from dim=8 up (its
    generated method passes the JIT's huge-method limit; 3-5x end to
    end at dim=64) and won only at dim<=4, which no embedding reaches."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )


def norm(a: Column | str) -> Column:
    """L2 norm, accumulated like :func:`dot`."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double"))
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector: one scan,
    one narrow projection, then a global top-k (``orderBy.limit`` —
    Spark executes it as per-partition top-k + driver merge of k·p
    rows, no full sort materialization)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force k-NN join: broadcast the (small) query set against
    the corpus, rank per query. Exact; O(|Q|·|C|) scored pairs but
    never materializes beyond the ranked window. Norms are staged once
    per vector (not once per pair) — same doubles, 3x less work."""
    # r14 (guide §2.5 "one huge unsplittable file ... repartition
    # immediately after the read"): the O(|Q|·|C|) scoring runs at the
    # corpus SCAN's parallelism (the per-query window exchange comes
    # after it), and a single-row-group parquet corpus cannot split —
    # so a small file leaves all but one core idle for the whole pair
    # evaluation. Conditional: a corpus already at >= cluster
    # parallelism (any at-scale corpus) is untouched, so no shuffle is
    # ever added where the scan splits naturally. Scores are per-pair
    # expressions; placement cannot change values.
    # r15 (verdict #7 / advisor): the gate reads the OPTIMIZER's size
    # estimate instead of ``corpus.rdd.getNumPartitions()`` — the
    # ``.rdd`` probe forced a physical plan + RDD conversion at
    # DataFrame-build time on every call (and is unavailable under
    # Spark Connect); the stats probe is analysis-only and fails
    # closed (no repartition) where stats are unreachable.
    from ..plans.inspect import scan_is_effectively_serial

    try:
        par = corpus.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = 0
    if par > 1 and scan_is_effectively_serial(corpus, par):
        corpus = corpus.repartition(par)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    scored = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (dot("__qvec", "__cvec")
         / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (xorshift-free:
    a simple LCG keeps this dependency-free and reproducible)."""
    state = seed or 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            v.append((state / float(1 << 64)) * 2.0 - 1.0)
        mag = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / mag for x in v])
    return planes


def with_lsh_bucket(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    out: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign-bit string of the
    vector against ``n_planes`` fixed hyperplanes. Vectors with high
    cosine land in the same bucket with probability
    ``(1 - θ/π)^n_planes``."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(
            dot(F.col(vec_col), F.array(*[F.lit(x) for x in p])) >= 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        for p in planes
    ]
    bucket = F.concat(*[b.cast("string") for b in bits])
    return df.withColumn(out, bucket)


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate k-NN: LSH-bucket both sides, equi-join on bucket
    (this is the scale path — the join only scores same-bucket pairs),
    then exact cosine rerank within candidates.

    Recall is tuned by two knobs: ``n_planes`` (fewer planes -> bigger
    buckets -> higher per-table recall) and ``n_tables`` — independent
    hash tables whose candidate sets union before the rerank (the
    standard multi-table LSH construction; misses decay exponentially
    in the table count). Each table is an equi-join on
    (table, bucket), never n²."""
    def bucketed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        parts = []
        for t in range(n_tables):
            b = with_lsh_bucket(
                df, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed + 1000 * t
            )
            parts.append(
                b.select(
                    F.col(id_col).alias(out_id),
                    F.col(vec_col).alias(out_vec),
                    F.lit(t).alias("lsh_table"),
                    F.col("lsh_bucket"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    q = bucketed(queries, "query_id", "__qvec")
    c = bucketed(corpus, "neighbor_id", "__cvec")
    scored = (
        q.join(c, ["lsh_table", "lsh_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qvec", "__cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine("__qvec", "__cvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: Byte budget for broadcasting a near-pairs corpus (r15): a few
#: hundred MB broadcasts are routinely fine (guide §3.1) while multi-GB
#: ones risk driver/executor OOM and the 8 GB broadcast-relation cap, so
#: past it the exact tier fails over to the LSH join.
BROADCAST_PIN_MAX_BYTES = 256 << 20


def _broadcast_fits(rows: int, dim: int) -> bool:
    """Estimated broadcast size of ``rows`` vectors of ``dim`` elements
    under :data:`BROADCAST_PIN_MAX_BYTES`: 8 bytes per element plus
    ~64 bytes of row overhead (id, norm, array header)."""
    return rows * (8 * dim + 64) <= BROADCAST_PIN_MAX_BYTES


#: Pair cells (rows x columns) one tile of :func:`_near_pairs` scores.
#: A tile holds ~24 bytes a cell (float64 sum, element-type product,
#: float64 norm product, masks): ~1.5 MB, so its sum stays in cache
#: across the dimension loop (2^21-cell tiles ran 2.3x slower on 2,000
#: 64-d vectors) and a Python worker's memory is bounded at any size.
_TILE_CELLS = 1 << 16

#: Pair cells one exact-tier block (one Python task) scores: ~0.3 s of
#: kernel time at 64-d, about what a Python worker spends setting up a
#: task (~0.25 s CPU measured with 2 task threads), so a small corpus
#: runs as one task instead of paying that once per core.
_BLOCK_CELLS = 1 << 21


def _pairs_schema(df: DataFrame, id_col: str) -> str:
    t = df.schema[id_col].dataType.simpleString()
    return f"id_a {t}, id_b {t}, cosine double"


def _corpus(ids, vecs) -> tuple:
    """``(ids, vectors transposed, norms, Arrow id type)`` of an Arrow
    id column and vector column, sorted by id, for :func:`_near_pairs`.
    Rows that score no pair are dropped: a NULL id, a NULL vector, or
    a NULL element (its products, and so :func:`cosine`, are NULL).
    Norms add like :func:`norm`: each square in the element type, cast
    to double, summed left to right. Mixed vector lengths raise."""
    import numpy as np
    import pyarrow.compute as pc

    ids, vecs = ids.combine_chunks(), vecs.combine_chunks()
    keep = pc.and_(ids.is_valid(), vecs.is_valid())
    ids, vecs = ids.filter(keep), vecs.filter(keep)
    lens = pc.min_max(pc.list_value_length(vecs))
    lo, dim = lens["min"].as_py() or 0, lens["max"].as_py() or 0
    if lo != dim:
        raise ValueError(f"vectors of mixed lengths {lo}..{dim}: cosine needs one length")
    flat = vecs.flatten()
    whole = ~flat.is_null().to_numpy(zero_copy_only=False).reshape(len(vecs), dim).any(1)
    mat = flat.fill_null(0).to_numpy(zero_copy_only=False).reshape(len(vecs), dim)
    id_np = ids.to_numpy(zero_copy_only=False)[whole]
    order = np.argsort(id_np, kind="stable")
    vt = np.ascontiguousarray(mat[whole][order].T)
    sq = np.zeros(len(order))
    for x in vt:
        sq += x * x
    return id_np[order], vt, np.sqrt(sq), ids.type


def _near_pairs(corpus: tuple, lo: int, hi: int, threshold: float):
    """``(id_a, id_b, cosine)`` Arrow batches, one per tile, of
    :func:`_corpus` rows ``lo..hi`` against every later row: the pairs
    with ``id_a < id_b`` whose cosine is ``>= threshold`` or NaN (Spark
    orders NaN above every number). The kernel runs :func:`cosine`'s operations in its
    order — each product in the element type, cast to double, summed
    left to right over the dimension, divided by the norm product, no
    pair where that product is 0 — so every score is bit-identical to
    the HOF form and to its DuckDB twin (``_cos_sql``). Vectorized
    across pairs in tiles of at most :data:`_TILE_CELLS` cells."""
    import numpy as np
    import pyarrow as pa

    ids, vt, norms, id_type = corpus
    n = len(ids)
    rows = max(1, min(hi - lo, _TILE_CELLS // max(1, n - lo)))
    cols = max(1, _TILE_CELLS // rows)
    with np.errstate(all="ignore"):
        for r0 in range(lo, hi, rows):
            r1 = min(r0 + rows, hi)
            for c0 in range(r0, n, cols):
                c1 = min(c0 + cols, n)
                dot = np.zeros((r1 - r0, c1 - c0))
                prod = np.empty(dot.shape, vt.dtype)
                for x in vt:
                    np.multiply(x[r0:r1, None], x[None, c0:c1], out=prod)
                    dot += prod
                den = np.multiply.outer(norms[r0:r1], norms[c0:c1])
                cos = np.divide(dot, den, out=dot)
                hit = (
                    (ids[r0:r1, None] < ids[None, c0:c1]) & (den != 0)
                    & ((cos >= threshold) | np.isnan(cos))
                )
                i, j = np.nonzero(hit)
                yield pa.record_batch(
                    [pa.array(ids[r0 + i], id_type), pa.array(ids[c0 + j], id_type),
                     pa.array(cos[i, j])],
                    names=["id_a", "id_b", "cosine"],
                )


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_exact_vectors: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t),
    exact: scores are bit-identical to :func:`cosine`.

    NULL vectors are dropped, then one aggregate job measures the
    corpus: its count and its min and max vector length. Mixed lengths
    raise. The corpus is collected to the driver once (Arrow) and
    broadcast, and ``spark.range(blocks)`` + ``mapInArrow`` scores each
    block of rows against every later row with the NumPy kernel
    :func:`_near_pairs`. Blocks hold equal shares of the pair triangle,
    at most :data:`_BLOCK_CELLS` cells each, spread over at most one
    partition per core.

    The tier is CAP-GUARDED (r3 verdict): above ``max_exact_vectors``
    vectors, or past :data:`BROADCAST_PIN_MAX_BYTES` at the measured
    length, candidates come from one equi-join on a 16-plane LSH
    bucket instead, scored by :func:`cosine` — never an unbounded
    collect or the O(n²) plan."""
    import numpy as np

    df = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    n, lo, dim = df.agg(
        F.count(F.lit(1)), F.min(F.size(vec_col)), F.max(F.size(vec_col))
    ).first()
    if lo != dim:
        raise ValueError(
            f"vectors of mixed lengths {lo}..{dim}: cosine needs one length"
        )
    spark = df.sparkSession
    schema = _pairs_schema(df, id_col)
    if n < 2:
        return spark.createDataFrame([], schema)
    if n > max_exact_vectors or not _broadcast_fits(n, dim):
        a, b = (
            with_lsh_bucket(
                df.select(
                    F.col(id_col).alias(f"id_{s}"),
                    F.col(vec_col).alias(f"__v{s}"),
                    norm(F.col(vec_col)).alias(f"__n{s}"),
                ),
                vec_col=f"__v{s}", dim=dim,
            )
            for s in "ab"
        )
        return (
            a.join(b, "lsh_bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine",
                dot("__va", "__vb")
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
            )
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    corpus = _corpus(*df.toArrow().columns)
    m = len(corpus[0])
    # row i scores m - i cells; cut the triangle into equal shares
    cells, total = np.cumsum(np.arange(m, 0, -1)), m * (m + 1) // 2
    want = max(1, -(-total // _BLOCK_CELLS))
    cuts = np.searchsorted(cells, total * np.arange(1, want) / want) + 1
    starts = sorted({0, m, *np.minimum(cuts, m).tolist()})
    bc = spark.sparkContext.broadcast(corpus)
    thr = float(threshold)

    def score(batches):
        for batch in batches:
            for blk in batch.column(0).to_pylist():
                yield from _near_pairs(bc.value, starts[blk], starts[blk + 1], thr)

    blocks = len(starts) - 1
    par = spark.sparkContext.defaultParallelism
    return spark.range(
        blocks, numPartitions=max(1, min(blocks, par))
    ).mapInArrow(score, schema)


def embedding_near_pairs_capped(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 4,
    cap: int = 200,
    seed: int = 42,
) -> DataFrame:
    """BUDGETED near-duplicate pairs: LSH-bucket the corpus (single
    table, so each vector lands in exactly one bucket and no pair is
    emitted twice), deterministically cap each bucket at ``cap``
    vectors (md5-ordered, :func:`..sampling.hash_top_n_per_group` —
    a uniform 'random' survivor set that is reproducible across
    engines), then exact within-bucket pairs: one grouped Arrow map
    per bucket runs the :func:`_near_pairs` kernel, so scores are
    bit-identical to :func:`embedding_near_pairs`.

    This is the scale grade for the near-pairs family: total scored
    pairs are bounded by ``2^n_planes * cap^2 / 2`` REGARDLESS of
    corpus size — at 100 TB the work per bucket is constant and the
    bucket count is a knob, where the exact tier is O(n²) and even
    plain LSH grows with the square of the bucket occupancy. The cost
    is recall: pairs beyond the per-bucket budget are not scored —
    the standard budget/recall trade of a capped near-dup sweep.
    Fully oracle-expressible (deterministic hyperplanes + md5 cap +
    sequential-accumulation cosine), unlike the multi-table ANN path.
    """
    from .sampling import hash_top_n_per_group

    capped = hash_top_n_per_group(
        with_lsh_bucket(df, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed),
        id_col=id_col, group_cols=["lsh_bucket"], n=cap,
    )
    thr = float(threshold)

    def score(t):
        import pyarrow as pa

        corpus = _corpus(t.column(id_col), t.column(vec_col))
        id_type = corpus[3]
        return pa.Table.from_batches(
            list(_near_pairs(corpus, 0, len(corpus[0]), thr)),
            schema=pa.schema(
                [("id_a", id_type), ("id_b", id_type), ("cosine", pa.float64())]
            ),
        )

    # the cap's window exchange already clusters rows by bucket, so the
    # grouped map plans no second exchange
    return (
        capped.select(id_col, vec_col, "lsh_bucket")
        .groupBy("lsh_bucket")
        .applyInArrow(score, _pairs_schema(df, id_col))
    )


#: Fixed-point scale for the Lloyd mean (PLANS.md rule V extension):
#: each float32 element is quantized to ``FLOOR(x * 2^40)`` — exact
#: double arithmetic, unambiguous floor — and summed as DECIMAL(38,0).
#: Integer/decimal addition is ORDER-INDEPENDENT, so the parallel
#: aggregation is reproducible bit-for-bit in any engine (float
#: summation is not: its rounding depends on reduction order, which is
#: why a plain ``F.avg`` Lloyd has no DuckDB twin). Headroom: the
#: decimal sum overflows only past ~10^38 / 2^40 ≈ 3e26 summed
#: absolute mass — unreachable. The 2^-40 input quantization (~1e-12
#: absolute) is noise relative to float32's own 2^-24 mantissa.
PORTABLE_MEAN_SCALE = float(1 << 40)


def kmeans_centroids(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 3,
) -> DataFrame:
    """The coarse quantizer behind IVF and SemDeDup: deterministic
    Lloyd iterations in pure DataFrame ops. Seeds are the k lowest-id
    vectors; each iteration assigns points to the nearest centroid
    (map-only argmax expression, ties to the lowest centroid_id) and
    recomputes the mean. Exact k-means is not the goal — IVF only
    needs a stable coarse quantizer. Returns (centroid_id, centroid).

    The mean is the order-independent fixed-point mean
    (:data:`PORTABLE_MEAN_SCALE`), so every Lloyd iteration — and
    therefore every downstream assignment, probe and rerank — is
    reproducible in DuckDB (``driver_queries._portable_cents_cte``):
    bit-exact over 3 iterations in the registry gate, and empty
    clusters drop identically in both engines (GROUP BY emits no row).
    """
    spark = df.sparkSession
    seed_rows = [
        (i, r[0])
        for i, r in enumerate(
            df.orderBy(F.col(id_col)).limit(k).select(vec_col).collect()
        )
    ]
    schema = "centroid_id int, centroid array<float>"
    if not seed_rows:  # empty input: empty, correctly-typed quantizer
        return spark.createDataFrame([], schema)
    dims = len(seed_rows[0][1])

    def _mean_elem(i: int) -> Column:
        scale = F.lit(PORTABLE_MEAN_SCALE)
        q = F.floor(
            F.element_at(F.col(vec_col), i + 1).cast("double") * scale
        ).cast("decimal(38,0)")
        return (F.sum(q).cast("double") / F.count(F.lit(1))) / scale

    rows = [(int(cid), list(v)) for cid, v in seed_rows]
    for _ in range(iterations):
        # map-only assignment (r11, small-k tier via the tiered
        # helper): no crossJoin expansion, no groupBy(id, vec)
        # shuffle; each Lloyd step is one light exchange on
        # centroid_id (k groups, map-side combined). id_col rides
        # along so the large-k join tier's groupBy keeps duplicate
        # vectors at their true multiplicity in the mean.
        assigned = _assigned_frame(
            df.select(F.col(id_col), F.col(vec_col)),
            spark.createDataFrame(rows, schema), rows, vec_col=vec_col,
        # NULL/malformed vectors assign to NULL (the r12 dirty-input
        # contract) and are EXCLUDED from the means — they carry no
        # usable coordinates; without this filter the NULL group would
        # crash the int() below on the first dirty corpus
        ).filter(F.col("centroid_id").isNotNull())
        new = assigned.groupBy("centroid_id").agg(
            F.array(
                *[_mean_elem(i).alias(f"c{i}") for i in range(dims)]
            ).cast("array<float>").alias("centroid")
        )
        # materialize between iterations: k rows collected to literals
        # keeps each Lloyd step a SHALLOW plan instead of nesting the
        # previous iterations' joins (k is tiny by construction — the
        # coarse quantizer has dozens of centroids, not millions)
        rows = [(int(r["centroid_id"]), list(r["centroid"])) for r in new.collect()]
    return spark.createDataFrame(rows, schema)


def _cent_rows(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a quantizer frame to ``[(centroid_id, vector)]`` —
    bounded by ``n_centroids`` (the same bound the IVF probe-set
    collect already carries); the rows feed the MAP-ONLY assignment
    expressions below."""
    return [
        (int(r["centroid_id"]), list(r["centroid"]))
        for r in cents.collect()
    ]


def _cent_lit(vec: list[float]) -> Column:
    """Centroid literal: double literals cast back to array<float>
    round-trip the stored float32 exactly, so ``dot(column, literal)``
    multiplies the identical FLOATs as the column-vs-column form (and
    as the oracle's table-vs-table form)."""
    return F.array(*[F.lit(float(x)) for x in vec]).cast("array<float>")


def _assign_expr(vec_col: str, cents: list[tuple[int, list[float]]]) -> Column:
    """Map-only nearest-centroid assignment (r11): ``greatest()`` over
    one ``(dot, -centroid_id)`` struct per centroid — max dot first,
    ties to the LOWEST centroid_id (the negation makes the struct
    compare agree with the oracles' ``ORDER BY d DESC, centroid_id``
    row_number, so assignment is reproducible even on exact float
    ties), with NO crossJoin row expansion and NO groupBy shuffle.
    Replaces the former
    ``crossJoin(broadcast) → groupBy(id, vec) → max_by`` shape, which
    shuffled the full corpus once per assignment; at 100 TB the
    assignment is now embarrassingly parallel and the only exchange
    left in an IVF build is the partitioned write itself."""
    structs = [
        F.struct(
            dot(F.col(vec_col), _cent_lit(v)).alias("d"),
            F.lit(-cid).alias("nc"),
        )
        for cid, v in cents
    ]
    best = structs[0] if len(structs) == 1 else F.greatest(*structs)
    # NULL/malformed vector => every dot is NULL (the centroids are
    # literals, so null-ness depends only on the row's vector) => the
    # struct compare would otherwise fall through to the id tiebreak
    # and silently assign centroid 0 (r11 advisor). Yield NULL instead,
    # matching the broadcast tier's explicit null-out. The gate probes
    # ONE dot (against the first centroid — null-ness is centroid-
    # independent), not best["d"]: the k-dot greatest() over HOF dots
    # is CodegenFallback, where a second reference risks
    # re-evaluating all k dots per row.
    null_vec = dot(F.col(vec_col), _cent_lit(cents[0][1])).isNull()
    return F.when(null_vec, F.lit(None)).otherwise(-best["nc"]).cast("int")


def _probe_expr(
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
) -> Column:
    """Map-only probe-list selection: the ``nprobe`` nearest centroid
    ids as an array, ordered (dot DESC, centroid_id) exactly like the
    large-k tier's row_number window — a descending ``sort_array`` on
    ``(dot, -centroid_id)`` structs needs no exchange at all. Sorting
    the dot itself descending, not its negation ascending, keeps
    Spark's order of a NaN dot (above every number) the same as the
    window's and the assignment tiers': a NaN centroid comes first."""
    arr = F.array(*[
        F.struct(
            dot(F.col(vec_col), _cent_lit(v)).alias("d"),
            F.lit(-cid).alias("nc"),
        )
        for cid, v in cents
    ])
    ranked = F.slice(F.sort_array(arr, asc=False), 1, nprobe)
    probes = F.transform(ranked, lambda s: -s["nc"])
    # NULL/malformed query vector: every dot is NULL and the sort would
    # fall through to centroid-id order, silently probing the lowest
    # nprobe lists. Yield NULL (a null query matches nothing) — same
    # dirty-input contract as _assign_expr; gate on ONE dot, not the
    # sorted array, to avoid re-evaluating the k-dot array under
    # CodegenFallback (r12 review).
    null_vec = dot(F.col(vec_col), _cent_lit(cents[0][1])).isNull()
    return F.when(null_vec, F.lit(None)).otherwise(probes)


#: Above this centroid count the per-centroid literal expressions
#: (_assign_expr / _probe_expr) stop being a good idea — the plan
#: grows linearly in k (measured fine through k=128; a web-scale
#: SemDeDup runs ~100k clusters) — so the tiered helpers below fall
#: back to the broadcast-join shape, which handles any k at the cost
#: of one corpus shuffle. Same argmax, same (dot DESC, centroid_id)
#: tie order in both tiers.
ASSIGN_EXPR_MAX_CENTROIDS = 64


def _assigned_frame(
    df: DataFrame,
    cents: DataFrame,
    crows: list[tuple[int, list[float]]],
    *,
    vec_col: str,
    out: str = "centroid_id",
) -> DataFrame:
    """Nearest-centroid assignment, tiered on centroid count: the
    map-only greatest() expression up to
    :data:`ASSIGN_EXPR_MAX_CENTROIDS` (zero exchanges), else the
    broadcast crossJoin + deterministic max_by (one map-side-combined
    corpus shuffle — the shape a 100k-cluster SemDeDup needs; the
    literal-expression plan would grow linearly in k). Both tiers
    compute the identical argmax with the identical (dot DESC,
    centroid_id) tie order. Returns ``df``'s columns plus ``out``;
    ``df`` must not already carry ``centroid_id``/``__d``."""
    if not crows:  # empty quantizer (empty corpus): typed placeholder
        return df.select(
            *df.columns, F.lit(0).cast("int").alias(out)
        )
    if len(crows) <= ASSIGN_EXPR_MAX_CENTROIDS:
        return df.select(
            *df.columns, _assign_expr(vec_col, crows).alias(out)
        )
    key = F.struct(F.col("__d"), (-F.col("centroid_id")).alias("__nc"))
    # max(__d) is NULL iff the row's vector is NULL/malformed (every
    # dot NULL); null the assignment out explicitly so both tiers agree
    # on dirty input instead of the struct tiebreak electing centroid 0
    # (r11 advisor finding, similarity.py _assign_expr).
    agged = (
        df.crossJoin(F.broadcast(cents))
        .withColumn("__d", dot(F.col(vec_col), F.col("centroid")))
        .groupBy(*df.columns)
        .agg(
            F.max_by("centroid_id", key).alias(out),
            F.max("__d").alias("__dmax"),
        )
    )
    return agged.select(
        *df.columns,
        F.when(F.col("__dmax").isNull(), F.lit(None))
        .otherwise(F.col(out))
        .cast("int")
        .alias(out),
    )


def _probed_frame(
    q: DataFrame,
    cents: DataFrame,
    crows: list[tuple[int, list[float]]],
    nprobe: int,
) -> DataFrame:
    """Top-``nprobe`` probe lists per query, tiered like
    :func:`_assigned_frame`: map-only sort_array expression for small
    k, broadcast crossJoin + row_number window for large k — identical
    (dot DESC, centroid_id) order in both. ``q`` carries
    ``(query_id, __qvec)``; returns those plus ``centroid_id``."""
    if len(crows) <= ASSIGN_EXPR_MAX_CENTROIDS:
        return q.select(
            "query_id", "__qvec",
            F.explode(_probe_expr("__qvec", crows, nprobe)).alias("centroid_id"),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").desc(), F.col("centroid_id")
    )
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d", dot(F.col("__qvec"), F.col("centroid")))
        # NULL/malformed query vector: drop before ranking, so the
        # query probes nothing — identical to the expr tier's NULL
        # probe array whose explode() drops the row (r12 review: the
        # desc-nulls-last window would otherwise rank NULL dots 1..k
        # and probe the nprobe lowest centroid ids)
        .filter(F.col("__d").isNotNull())
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qvec", "centroid_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 3,
) -> DataFrame:
    """IVF approximate k-NN — the inverted-file scale path (the other
    standard construction next to LSH): corpus vectors are listed
    under their nearest coarse centroid; each query probes only the
    ``nprobe`` nearest lists and reranks exactly. The expensive join
    touches ~``nprobe/n_centroids`` of the corpus, and every stage is
    an equi-join on centroid_id — never n².

    The coarse quantizer is :func:`kmeans_centroids` (``iterations``
    Lloyd steps, fixed-point mean), so every value is reproducible in
    DuckDB (``driver_queries._ivf_sql``, PLANS.md rules V/W).
    """
    cents = kmeans_centroids(
        corpus, n_centroids, vec_col=vec_col, id_col=id_col,
        iterations=iterations,
    )
    crows = _cent_rows(cents)
    if not crows:  # empty corpus
        return _ivf_rerank(queries, None, None, k, id_col=id_col)

    # both assignment and probe selection are MAP-ONLY expressions
    # over the collected centroids (r11, small-k tier) — the only
    # shuffle left in the whole query is the equi-join on centroid_id
    # + the rerank; above ASSIGN_EXPR_MAX_CENTROIDS the tiered helpers
    # switch to the broadcast-join shape
    corpus_l = _assigned_frame(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
        ),
        cents, crows, vec_col="__cvec",
    )
    query_probes = _probed_frame(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
        ),
        cents, crows, nprobe,
    )
    return _ivf_rerank(queries, query_probes, corpus_l, k, id_col=id_col)


def _ivf_rerank(
    queries: DataFrame,
    probes: DataFrame | None,
    lists: DataFrame | None,
    k: int,
    *,
    id_col: str,
) -> DataFrame:
    """Exact rerank within the probed lists, shared by :func:`ivf_topk`
    and :func:`ivf_index_topk`: equi-join ``probes`` (``query_id``,
    ``__qvec``, ``centroid_id``) to ``lists`` (``neighbor_id``,
    ``__cvec``, ``centroid_id``) on ``centroid_id``, drop self-pairs,
    score cosine and keep the top ``k`` per query (cosine DESC,
    neighbor_id). ``probes`` is None when the quantizer is empty; the
    result is then empty, typed like the full one."""
    if probes is None:
        return queries.limit(0).select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).alias("rank"),
        )
    scored = (
        probes.join(lists, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine("__qvec", "__cvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 3,
) -> None:
    """Persist an IVF index as a lake layout: ``<path>/centroids``
    (tiny) plus ``<path>/lists`` PARTITIONED BY centroid_id — the
    inverted lists ARE parquet partitions, so querying nprobe lists is
    plain partition pruning (the scan touches ~nprobe/n_centroids of
    the corpus bytes; plan-asserted in tests). This is the storage
    twin of :func:`ivf_topk`: build once over 100 TB, serve many
    queries without rescanning or re-clustering.

    The persisted centroids are :func:`kmeans_centroids` output and
    round-trip float32 parquet exactly, so a served top-k equals the
    in-memory :func:`ivf_topk` and shares its DuckDB twin."""
    cents = kmeans_centroids(
        corpus, n_centroids, vec_col=vec_col, id_col=id_col,
        iterations=iterations,
    )
    crows = _cent_rows(cents)
    # map-only assignment (r11, small-k tier): the build's only
    # exchange is the partitioned write itself
    assigned = _assigned_frame(
        corpus.select(F.col(id_col), F.col(vec_col)),
        cents, crows, vec_col=vec_col,
    )
    # a REBUILD over a previously-compacted index resets the
    # generation state FIRST (r10 review fix): deleting the stale
    # pointer before any write means a crash mid-rebuild leaves
    # readers failing loudly on the half-built gen-0 layout instead of
    # silently serving the OLD generation's vectors against the NEW
    # centroids. Rebuild is an offline op; rerun it after a crash.
    spark = corpus.sparkSession
    fs, hpath = _ivf_fs(spark, path)
    base = path.rstrip("/")
    if fs.exists(hpath(base)):
        for st in fs.listStatus(hpath(base)):
            name = st.getPath().getName()
            if st.isFile() and name.startswith(_IVF_PTR_PREFIX + ".g"):
                fs.delete(st.getPath(), False)
            elif st.isDirectory() and name.startswith("lists_g"):
                fs.delete(st.getPath(), True)
    cents.write.mode("overwrite").parquet(base + "/centroids")
    (
        assigned.withColumn("__batch_seq", F.lit(0).cast("bigint"))
        .withColumn("__batch_id", F.lit("__build"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(base + "/lists")
    )
    # seed the upsert manifest (see ivf_index_upsert): the build is
    # generation 0, so the first incremental batch sequences after it
    corpus.sparkSession.createDataFrame(
        [("__build", 0)], "batch_id string, seq bigint"
    ).write.mode("overwrite").parquet(base + "/batches")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index: probe-list selection is a
    MAP-ONLY expression over the collected centroids (bounded by
    ``n_centroids``), and the list scan carries an
    ``isin(probed_lists)`` partition filter — Spark prunes every
    unprobed inverted list at planning time, which is the entire point
    of the layout. Exact rerank within the probed lists.

    Driver round-trip (r10 note): the probe frame is checkpointed once
    and only its DISTINCT centroid ids are collected — bounded by
    ``n_centroids``, O(1) in the query-batch size — so the filter is a
    LITERAL the planner can prune partitions with (a join would scan
    everything), and the probe assignment is computed once, not once
    for the collect and again in the serve join. A single union read
    over all probed lists beats per-probe-signature reads: the
    equi-join on ``centroid_id`` already restricts every query to its
    own probed lists, and a list probed by two signature groups is
    scanned once instead of twice."""
    cents = spark.read.parquet(path.rstrip("/") + "/centroids")
    crows = _cent_rows(cents)
    if not crows:  # index built over an empty corpus
        return _ivf_rerank(queries, None, None, k, id_col=id_col)
    lists_dir, folded_seq = _ivf_lists_path(spark, path)
    probes = (
        # map-only probe selection (r11, small-k tier): sort_array
        # over per-centroid (dot, −id) structs replaces the former
        # crossJoin + row_number window — zero exchanges; large-k
        # indexes fall back to the join shape inside the helper
        _probed_frame(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
            ),
            cents, crows, nprobe,
        )
        # materialize once: the distinct-collect below and the serve
        # join both read the checkpointed probe rows (n_queries*nprobe,
        # bounded) instead of re-running the queries-side plan twice.
        # Lifecycle: localCheckpoint blocks (unlike persist()) are
        # ContextCleaner-managed — they live exactly as long as the
        # returned result frame is reachable and are reclaimed when
        # the caller drops it; a long-lived server should not hold old
        # result frames (and may sweep with clear_persisted_blocks)
        .localCheckpoint(eager=True)
    )
    probed_lists = sorted(
        {r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()}
    )
    lists = spark.read.parquet(lists_dir).filter(
        F.col("centroid_id").isin(probed_lists)
    )
    if "__batch_seq" in lists.columns:
        # exactly-once read discipline (r10 review fix, hardened r11):
        # rows from an in-flight/crashed upsert (lists are written
        # before the manifest commit marker) are orphans — invisible
        # until their batch commits (:func:`_ivf_visible`; membership
        # on (batch_id, seq), not max-seq, so a later batch committing
        # at a colliding seq cannot resurrect them). The replay
        # re-appends identical rows and commits, at which point they
        # become visible. Then last-writer-wins over the probed lists:
        # a re-upserted id must serve its latest vector; the collapse
        # runs only when COMMITTED seqs exist beyond the generation's
        # folded_through_seq (fresh build or just-compacted index:
        # aggregate-free serve path — safe because orphans are already
        # filtered, so every visible id is single-version).
        _seen, next_seq, pairs = _ivf_batches(spark, path)
        committed_max = next_seq - 1
        lists = _ivf_visible(
            spark, lists, pairs=pairs,
            folded_seq=folded_seq, committed_max=committed_max,
        )
        if committed_max > folded_seq:
            lists = (
                lists.groupBy(F.col(id_col))
                .agg(
                    F.max_by(
                        F.struct(F.col(vec_col), F.col("centroid_id")),
                        _ivf_lww_key(lists),
                    ).alias("__l")
                )
                .select(
                    id_col,
                    F.col(f"__l.{vec_col}").alias(vec_col),
                    F.col("__l.centroid_id").alias("centroid_id"),
                )
            )
    lists = lists.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"), "centroid_id"
    )
    return _ivf_rerank(queries, probes, lists, k, id_col=id_col)


#: generation-pointer prefix: ``_ivf_lists.g{N}.json`` in the index
#: root names the committed lists directory (``lists`` for generation
#: 0, ``lists_g{N}`` after the Nth compaction) — the
#: :class:`..store.rollup.RollupStore` manifest pattern, which closes
#: the r9 local crash window (the old two-rename swap could crash
#: between renames and leave NO lists directory) and is object-store
#: safe (no directory rename anywhere; the pointer write is one small
#: file rename, and readers resolve the max generation so a torn or
#: missing pointer falls back to the previous committed one).
_IVF_PTR_PREFIX = "_ivf_lists"


def _ivf_fs(spark, path: str):
    return genfile.hadoop_fs(spark, path)


def _ivf_pointer(spark, path: str) -> dict:
    """Committed generation = the highest-generation parseable pointer
    file (:mod:`..store.genfile` protocol, shared with the rollup
    store since r11); no pointer at all = generation 0 (``lists``,
    nothing folded). Torn writes resolve to the previous generation —
    never to a missing directory; present-but-unparseable pointers
    with no parseable sibling raise (r10 review) instead of pointing
    readers at a lists dir a compaction already swept."""
    return genfile.read_committed(
        spark, path, _IVF_PTR_PREFIX,
        default={"generation": 0, "folded_through_seq": 0},
        store_desc="IVF index",
    )


def _ivf_lists_path(spark, path: str) -> tuple[str, int]:
    """(current committed lists directory, highest folded seq)."""
    meta = _ivf_pointer(spark, path)
    gen = meta["generation"]
    base = path.rstrip("/")
    lists = base + ("/lists" if gen == 0 else f"/lists_g{gen}")
    return lists, int(meta.get("folded_through_seq", 0))


def _ivf_write_pointer(spark, path: str, meta: dict) -> None:
    """Commit = atomic rename of a tmp file onto the NEW
    generation-suffixed pointer name; superseded pointers are swept
    only after the new one exists, and a false-returning rename fails
    loudly (:func:`..store.genfile.commit_generation` — rename
    atomicity is filesystem-level; object stores need a conditional
    put, same caveat as the rollup store)."""
    genfile.commit_generation(
        spark, path, _IVF_PTR_PREFIX, meta, store_desc="IVF index",
    )


def _ivf_batches(spark, path: str) -> tuple[set, int, list]:
    """(seen batch_ids, next sequence, committed (batch_id, seq)
    pairs) from the tiny append-only manifest dir ``<index>/batches``
    — one row per committed append, the
    :class:`..store.rollup.RollupStore` idempotence pattern. Only a
    MISSING path reads as a fresh index (structured error condition,
    the r8 ADVICE discipline); any other failure propagates."""
    from pyspark.errors import AnalysisException

    p = path.rstrip("/") + "/batches"
    try:
        rows = spark.read.schema("batch_id string, seq bigint").parquet(p).collect()
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set(), 1, []
        raise
    return (
        {r["batch_id"] for r in rows},
        max((r["seq"] for r in rows), default=0) + 1,
        sorted({(r["batch_id"], r["seq"]) for r in rows}),
    )


def _ivf_visible(spark, lists: DataFrame, *, pairs: list,
                 folded_seq: int, committed_max: int) -> DataFrame:
    """Committed-visible rows of an inverted-lists scan.

    r11 advisor fix: visibility used to be ``__batch_seq <=
    committed_max``, but seq numbers are allocated as
    manifest-max + 1 — so a crashed upsert's orphan rows at seq S
    became visible (resurrected) the moment any DIFFERENT later batch
    committed at the same S, with nondeterministic LWW ties between
    the orphan and the committed row. Visibility is now MEMBERSHIP:
    a row is visible iff it predates the fold horizon
    (``__batch_seq <= folded_seq`` — compaction output) or its
    ``(__batch_id, __batch_seq)`` pair appears in the committed
    manifest (broadcast left join against the tiny manifest frame —
    bounded by upserts-since-compaction, never corpus-sized). An
    orphan's pair is never committed under its own seq (a replay
    re-allocates past the colliding batch), so it stays invisible
    forever and is dropped for good by the next compaction's fold.

    Legacy lists without ``__batch_id`` keep the old max-seq gate
    (documented weaker; one compaction migrates them)."""
    if "__batch_seq" not in lists.columns:
        return lists
    if "__batch_id" not in lists.columns:
        return lists.filter(F.col("__batch_seq") <= committed_max)
    marker = spark.createDataFrame(
        [(b, s) for b, s in pairs], "__batch_id string, __batch_seq bigint"
    ).withColumn("__committed", F.lit(True))
    return (
        lists.join(F.broadcast(marker), ["__batch_id", "__batch_seq"], "left")
        .filter(
            (F.col("__batch_seq") <= F.lit(folded_seq))
            | F.col("__committed").isNotNull()
        )
        .drop("__committed")
    )


def _ivf_lww_key(lists: DataFrame):
    """Last-writer-wins ordering key: ``(__batch_seq, __batch_id)``.
    Sequential (serialized) upserts never share a committed seq, but
    two CONCURRENT committed writers can both allocate manifest-max+1
    (r11 review finding) — the batch_id tiebreak makes the collapse
    DETERMINISTIC in that case (lexicographically-last batch_id wins,
    a stable arbitrary choice, not time order; serialize writers if
    time order matters). Legacy lists without ``__batch_id`` fall back
    to seq alone."""
    if "__batch_id" in lists.columns:
        return F.struct(F.col("__batch_seq"), F.col("__batch_id"))
    return F.col("__batch_seq")


def ivf_index_upsert(
    spark,
    path: str,
    vectors: DataFrame,
    *,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Incrementally ingest ``vectors`` into a persisted IVF index
    (the serving-path maintenance op: an embedding pipeline appends
    new/updated vectors continuously; rebuilding the quantizer per
    batch would rescan the corpus). New vectors are assigned against
    the FROZEN centroids (standard IVF practice — the coarse quantizer
    is only refreshed by a full rebuild) and APPENDED to the
    partitioned inverted lists, so an upsert touches only the new
    rows' bytes. Returns True if the batch was applied, False for a
    replayed ``batch_id`` (exactly-once via the batches manifest;
    lists are written FIRST, the manifest row is the commit marker —
    a crash between the two replays cleanly: the crashed attempt's
    rows are orphans the read path never serves, because visibility
    is MEMBERSHIP of the row's ``(batch_id, seq)`` pair in the
    committed manifest (:func:`_ivf_visible`, r11). The replay
    allocates a fresh seq past whatever committed meanwhile — if
    nothing did, it re-appends at the same seq and the identical
    duplicate rows collapse in the LWW read — and the orphans are
    dropped for good at the next compaction's fold).

    Consistency: a RE-upserted id supersedes its old version at read
    time (max ``__batch_seq``) within the probed lists; an update that
    MOVES a vector to a different list is fully reconciled only by
    :func:`compact_ivf_index` — eventual consistency, the standard
    ANN-serving trade."""
    seen, seq, _pairs = _ivf_batches(spark, path)
    if batch_id in seen:
        return False
    lists_dir, _folded = _ivf_lists_path(spark, path)
    existing = spark.read.parquet(lists_dir)
    if "__batch_seq" not in existing.columns:
        # a pre-versioning index: appending versioned rows would mix
        # parquet schemas and make the LWW read flaky — fail loudly
        raise ValueError(
            "IVF index at %r predates upsert support (lists lack "
            "__batch_seq) — rebuild it with build_ivf_index first"
            % path
        )
    if "__batch_id" not in existing.columns:
        # r11 visibility protocol: rows must carry their batch_id so
        # the read path can gate on manifest MEMBERSHIP (orphan-seq
        # collision fix). One compaction migrates an r10-layout index.
        raise ValueError(
            "IVF index at %r predates batch-id visibility (lists lack "
            "__batch_id) — run compact_ivf_index once to migrate it"
            % path
        )
    cents = spark.read.parquet(path.rstrip("/") + "/centroids")
    crows = _cent_rows(cents)
    # map-only frozen-centroid assignment (r11, small-k tier): the
    # upsert's only exchange is the partitioned append itself
    assigned = (
        _assigned_frame(
            vectors.select(F.col(id_col), F.col(vec_col)),
            cents, crows, vec_col=vec_col,
        )
        .withColumn("__batch_seq", F.lit(seq).cast("bigint"))
        .withColumn("__batch_id", F.lit(batch_id))
    )
    (
        assigned.write.mode("append")
        .partitionBy("centroid_id")
        .parquet(lists_dir)
    )
    spark.createDataFrame(
        [(batch_id, seq)], "batch_id string, seq bigint"
    ).write.mode("append").parquet(path.rstrip("/") + "/batches")
    return True


def compact_ivf_index(
    spark,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Collapse the inverted lists to one latest-version row per id
    (global last-writer-wins across ALL lists — this is what
    reconciles an update that moved a vector to a different list) and
    commit them as a fresh GENERATION (r10, closing the r9 staged-swap
    crash window): the compacted lists are written to a brand-new
    ``lists_g{N}`` directory, and the commit point is the atomic
    rename of the tiny generation-pointer file
    (``_ivf_lists.g{N}.json``) — a crash anywhere leaves the previous
    generation fully readable (no directory is ever renamed or deleted
    before the pointer commits), and the scheme needs no atomic
    directory rename, so it holds on object stores too. The pointer
    records ``folded_through_seq``; the serve path re-enables its LWW
    collapse only for manifest seqs newer than it, so a compacted
    index serves aggregate-free again. The superseded generation
    directory is swept best-effort AFTER the commit; a crash mid-sweep
    leaves garbage the next compaction removes.

    Still an OFFLINE maintenance op with respect to WRITERS: an upsert
    racing the compaction snapshot can commit rows into the old
    generation and lose them at the pointer flip — serialize upserts
    against compaction (the RollupStore in-process-lock pattern).
    Readers racing the compaction resolve either generation and read
    it intact: the just-superseded directory is left on disk and only
    swept at the START of the NEXT compaction (r10 review fix — an
    immediate sweep could delete files under a reader that resolved
    the old pointer moments earlier), so a reader is only at risk if
    it straddles TWO full compaction cycles. Orphan rows from a
    crashed upsert (seq beyond the manifest's committed max) are
    EXCLUDED from the fold — baking them in would let the read-side
    orphan filter hide an id entirely until the upsert replays."""
    base = path.rstrip("/")
    cur_lists, _folded = _ivf_lists_path(spark, path)
    meta = _ivf_pointer(spark, path)
    fs, hpath = _ivf_fs(spark, path)
    # sweep generations made stale by the PREVIOUS compaction (and any
    # crashed staging dirs): everything but the current committed dir
    cur_name = cur_lists.rsplit("/", 1)[-1]
    for st in fs.listStatus(hpath(base)):
        name = st.getPath().getName()
        if st.isDirectory() and name != cur_name and (
            name == "lists" or name.startswith("lists_g")
        ):
            try:
                fs.delete(st.getPath(), True)
            except Exception:
                pass  # garbage is invisible to readers; next sweep
    _seen, next_seq, pairs = _ivf_batches(spark, path)
    lists = spark.read.parquet(cur_lists)
    if "__batch_seq" in lists.columns:
        # same committed-visibility gate as the serve path (r11:
        # membership, not max-seq — see _ivf_visible): orphans from
        # crashed upserts are excluded from the fold, INCLUDING one
        # whose seq a different later batch re-used
        lists = _ivf_visible(
            spark, lists, pairs=pairs,
            folded_seq=int(meta.get("folded_through_seq", 0)),
            committed_max=next_seq - 1,
        )
        seq_col = F.col("__batch_seq")
    else:
        seq_col = F.lit(0).cast("bigint")
    lww = (
        F.struct(seq_col, F.col("__batch_id"))
        if "__batch_id" in lists.columns else seq_col
    )
    latest = (
        lists.withColumn("__seq", seq_col)
        .groupBy(F.col(id_col))
        .agg(
            # same deterministic (seq, batch_id) key as the serve path
            # (_ivf_lww_key) so a concurrent-writer seq tie folds the
            # SAME winner the serve path was returning
            F.max_by(
                F.struct(F.col(vec_col), F.col("centroid_id")), lww
            ).alias("__l"),
            F.max("__seq").alias("__batch_seq"),
        )
        .select(
            id_col,
            F.col(f"__l.{vec_col}").alias(vec_col),
            "__batch_seq",
            F.col("__l.centroid_id").alias("centroid_id"),
        )
        # folded rows are visible via seq <= folded_through_seq; the
        # tag just keeps the lists schema uniform for future appends
        .withColumn("__batch_id", F.lit("__fold"))
    )
    new_gen = meta["generation"] + 1
    new_dir = base + f"/lists_g{new_gen}"
    (
        latest.write.mode("overwrite")  # overwrite: a crashed earlier
        .partitionBy("centroid_id")     # attempt at this gen is garbage
        .parquet(new_dir)
    )
    _ivf_write_pointer(
        spark, path,
        {"generation": new_gen, "folded_through_seq": next_seq - 1},
    )
    # the superseded generation dir is deliberately NOT deleted here —
    # in-flight readers may have resolved it; the NEXT compaction's
    # start-of-run sweep (above) removes it


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
    iterations: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with the coarse
    quantizer (:func:`kmeans_centroids`, ``iterations`` fixed-point
    Lloyd steps, so cluster ids are DuckDB-reproducible), compute
    pairwise cosine WITHIN each cluster only, connect pairs above
    ``threshold`` into duplicate groups
    (:func:`..dedup.connected_components` — near-dup relations are
    not transitive), and keep the minimum-id representative per
    group. The batch twin of the curation step between exact dedup
    (byte-identical) and topic-level filtering: paraphrases, template
    rewrites, and boilerplate-translated copies land in the same
    cluster with cosine near 1 and collapse to one survivor.

    Scale shape: the only pair-generating join is an EQUI-join on
    cluster_id with ``id_a < id_b`` — work is sum over clusters of
    |cluster|²/2, never corpus², and ``n_clusters`` is the knob that
    bounds expected cluster size (SemDeDup runs ~100k clusters at
    web scale; scale it with the corpus so |cluster| stays flat).
    Everything else is the bounded k-means (k rows collected per
    Lloyd step) plus the linear component propagation.

    Returns ``(id_col, cluster_id, component, keep)`` — one row per
    input row; ``component`` is NULL for rows with no duplicate,
    ``keep`` marks survivors (every non-duplicate, plus the min-id
    row of each duplicate group). Two survivors in the same cluster
    are never a pair at/above ``threshold`` (a direct pair would have
    merged their components; pytest-asserted).

    No counterpart in the reference (its embeddings feed features
    only, ``nlp_embeddings.py``); beyond-reference scale surface.
    """
    from .dedup import connected_components

    cents = kmeans_centroids(
        df, n_clusters, vec_col=vec_col, id_col=id_col, iterations=iterations,
    )
    crows = _cent_rows(cents)
    if not crows:  # empty corpus: empty frame, output schema intact
        return df.limit(0).select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster_id"),
            F.col(id_col).alias("component"),
            F.lit(True).alias("keep"),
        )
    # map-only cluster assignment (r11, small-k tier; the tiered
    # helper switches to the broadcast-join shape above
    # ASSIGN_EXPR_MAX_CENTROIDS — the 100k-cluster web-scale
    # SemDeDup regime): the only pair-generating shuffle left is the
    # equi-join on cluster_id below
    assigned = _assigned_frame(
        df.select(F.col(id_col), F.col(vec_col)),
        cents, crows, vec_col=vec_col, out="cluster_id",
    )
    a = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cosine("__va", "__vb") >= threshold)
        .select(F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"))
    )
    comps = connected_components(pairs)
    out = assigned.join(
        comps.select(F.col("id").alias(id_col), "component"),
        id_col, "left",
    )
    return out.select(
        id_col,
        "cluster_id",
        "component",
        (
            F.col("component").isNull()
            | (F.col("component") == F.col(id_col))
        ).alias("keep"),
    )
