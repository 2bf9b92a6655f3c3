"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline; sign-LSH bucketing is
the scale path (search only the query's bucket — an IVF-style candidate
cut). Dot products run as JVM higher-order functions (zip_with +
aggregate), not Python.

Measured dead end (do not retry): unrolling the dot product against a
constant query/centroid into 64 element_at terms made every query
SLOWER (ivf_topk 2.1s -> 11.8s at sf0.1) — the 1000+-node expression
trees blow up Catalyst optimization time, dwarfing any interpreted-HOF
cost at these dimensions. The compact HOF expression wins for dense
vector math; unrolling only pays for short fixed arrays (see
hashing/zorder).

Scale design: brute-force is a map-side scan + a single top-k (no
shuffle beyond the final k rows when expressed as orderBy+limit with AQE;
for per-query batched top-k use a window over query_id). The LSH variant
shuffles only bucket-matched rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def const_double_array(values: list[float]) -> Column:
    """array<double> literal built with ONE parsed expression instead of
    one py4j round trip per element. ``F.array(*[F.lit(x) ...])`` costs
    ~1 ms of driver->JVM latency per element — for plans that embed many
    constant vectors (ivf_cell's nlist x dims literals, the PCA
    component matrix) that construction overhead dominated the whole
    plan build (guide §1.2: driver-side planning latency). repr()
    round-trips a double exactly and Spark's `1.5E-3D` literal parse is
    correctly rounded, so the resulting literals are bit-identical to
    the per-element form; non-finite values fall back to F.lit."""
    vals = [float(v) for v in values]
    if vals and all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision (deterministic
    summation order — reproducible across runs and engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sign_bucket(a: Column, num_bits: int = 8) -> Column:
    """Random-hyperplane-style LSH bucket: the sign pattern of the first
    num_bits dimensions (deterministic planes = coordinate axes; swap in
    seeded hyperplanes for production skew control)."""
    bits = [F.when(F.element_at(a, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(num_bits)]
    return F.concat(*bits)


def brute_force_topk(embeddings: DataFrame, query_vec: list[float],
                     k: int = 10, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     round_digits: int = 6) -> DataFrame:
    """Exact cosine top-k vs one query vector. Scores rounded for
    cross-engine comparability; ties broken by id."""
    q = const_double_array(query_vec)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), round_digits).alias("cos_sim"))
    return (scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
                  .limit(k))


def lsh_bucketed_topk(embeddings: DataFrame, query_vec: list[float],
                      k: int = 10, num_bits: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_digits: int = 6) -> DataFrame:
    """ANN: search only vectors sharing the query's sign-LSH bucket.
    At scale the bucket filter prunes ~2^-num_bits of the corpus before
    any distance math; misses are the recall trade-off."""
    qbits = "".join("1" if v >= 0 else "0" for v in query_vec[:num_bits])
    q = const_double_array(query_vec)
    candidates = embeddings.filter(sign_bucket(F.col(vec_col), num_bits) == qbits)
    scored = candidates.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), round_digits).alias("cos_sim"))
    return (scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
                  .limit(k))


def topk_for_queries(corpus: DataFrame, queries: DataFrame,
                     k: int = 10, num_bits: int | None = None,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec",
                     round_digits: int = 6,
                     exclude_self: bool = False) -> DataFrame:
    """Batched top-k: a whole DataFrame of query vectors against the
    corpus in ONE distributed plan — the shape a training-data pipeline
    actually runs (dedup-against-index, retrieval eval, hard-negative
    mining), vs the single-driver-vector APIs above.

    ``num_bits=None``: exact — the query set broadcasts to every corpus
    partition (BroadcastNestedLoopJoin); cost is |corpus| × |queries|
    score evaluations, zero corpus shuffle.
    ``num_bits=n``: sign-LSH candidate cut — both sides compute their
    bucket string and equi-join on it (queries still broadcast when
    small), so only same-bucket pairs are ever scored (~2^-n of the
    corpus per query); recall misses are the ANN trade-off.

    The per-query top-k is a window over query_id (one shuffle keyed by
    query — partition count = |queries|, each holding that query's
    candidates), returning (query_id, vec_id, cos_sim) with ties broken
    by id.

    ``exclude_self=True`` drops rows where vec_id == query_id — set it
    ONLY when queries are drawn from the corpus id space (dedup-against-
    self). It is opt-in because query and corpus ids are otherwise
    independent namespaces: with the filter always on, a query whose id
    coincidentally equals an unrelated corpus id would silently lose
    that neighbor.
    """
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    if num_bits is None:
        joined = c.crossJoin(F.broadcast(q))
    else:
        cb = c.withColumn("_b", sign_bucket(F.col("_cv"), num_bits))
        qb = q.withColumn("_b", sign_bucket(F.col("_qv"), num_bits))
        joined = cb.join(F.broadcast(qb), "_b")
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select("query_id", "vec_id",
                           F.round(cosine(F.col("_cv"), F.col("_qv")),
                                   round_digits).alias("cos_sim"))
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()))
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= k)
                  .drop("_rn"))


def centroid_affinity(vec_col: Column, cent_arr: Column) -> Column:
    """Cell-assignment score: dot(v, c) / |c|. Equivalent ORDERING to
    cosine for a fixed v (|v| > 0 is constant across centroids), at
    roughly half the arithmetic — the row norm is never computed."""
    return dot(vec_col, cent_arr) / l2_norm(cent_arr)


def _affinity_sql(vec_sql: str, ce: list[float], round_digits: int) -> str:
    """SQL text of round(centroid_affinity(vec, <const array>), digits) —
    the exact parse-equivalent of the Column-building form (same lambda
    bodies, same 0.0D seed, same fold order), emitted as a string so a
    whole nlist-centroid scores array costs ONE driver->JVM parse
    instead of ~15 py4j expression-construction calls per centroid."""
    arr = "array(" + ",".join(f"{float(x)!r}D" for x in ce) + ")"
    dotp = (f"aggregate(zip_with({vec_sql}, {arr}, (x, y) ->"
            " cast(x as double) * cast(y as double)),"
            " 0.0D, (acc, v) -> acc + v)")
    norm = (f"sqrt(aggregate(transform({arr}, x ->"
            " cast(x as double) * cast(x as double)),"
            " 0.0D, (acc, v) -> acc + v))")
    return f"round({dotp} / {norm}, {round_digits})"


def ivf_cell(vec_col: Column | str,
             centroids: list[tuple[int, list[float]]],
             round_digits: int = 6) -> Column:
    """IVF coarse-quantizer cell id for each vector: the centroid with the
    highest affinity (ties -> smallest centroid id).

    The centroid list is small by construction (nlist vectors), so the
    assignment is a pure per-row column expression — a map-side pass with
    NO shuffle and NO join. At 100 TB the corpus would be written
    ``partitionBy("ivf_cell")`` once at index-build time, turning every
    probe into static partition pruning at the parquet scan.

    Pass ``vec_col`` as a column NAME to build the whole nlist-way
    expression in one parsed SQL string (driver plan-build drops from
    ~0.5 s to ~ms for 16x64 centroids); a Column falls back to the
    per-centroid construction.
    """
    cents = sorted(centroids, key=lambda c: c[0])
    # array_position picks the FIRST max — centroids are cid-ascending, so
    # ties resolve to the smallest centroid id, matching the SQL twin's
    # ORDER BY score DESC, cid ASC.
    if isinstance(vec_col, str):
        vec_sql = "`" + vec_col.replace("`", "``") + "`"
        scores_sql = "array(" + ",".join(
            _affinity_sql(vec_sql, ce, round_digits)
            for _cid, ce in cents) + ")"
        cid_sql = "array(" + ",".join(str(int(cid))
                                      for cid, _ in cents) + ")"
        return F.expr(
            f"element_at({cid_sql}, cast(array_position({scores_sql},"
            f" array_max({scores_sql})) as int))")
    scores = F.array(*[
        F.round(centroid_affinity(
            vec_col, const_double_array(ce)), round_digits)
        for _cid, ce in cents])
    cid_arr = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    return F.element_at(
        cid_arr, F.array_position(scores, F.array_max(scores)).cast("int"))


def kmeans_refine(embeddings: DataFrame,
                  centroids: list[tuple[int, list[float]]],
                  iters: int = 2, vec_col: str = "embedding",
                  round_digits: int = 6) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the IVF coarse quantizer, DataFrame-native:
    per iteration, assign every vector its nearest cell (the same
    map-side ``ivf_cell`` expression the index uses — no join, no
    shuffle) and recompute each centroid as the per-dimension mean via
    posexplode + groupBy (shuffle width = nlist × dims, independent of
    corpus size). Only the nlist × dims means ever reach the driver.

    Empty cells keep their previous centroid (the standard Lloyd
    fallback). Returns the refined (cid, vector) list — feed it to
    ``ivf_write_index`` / ``ivf_topk`` for better-balanced cells than
    the deterministic corpus-row seeds."""
    cents = {cid: list(ce) for cid, ce in centroids}
    for _ in range(iters):
        cur = sorted(cents.items())
        assigned = embeddings.withColumn(
            "_cell", ivf_cell(vec_col,
                              [(c, v) for c, v in cur], round_digits))
        means = (assigned
                 .select("_cell", F.posexplode(F.col(vec_col))
                         .alias("_pos", "_x"))
                 .groupBy("_cell", "_pos")
                 .agg(F.avg("_x").alias("_m"))
                 .groupBy("_cell")
                 .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m")))
                       .alias("_mm"))
                 .collect())
        for r in means:
            cents[r["_cell"]] = [float(p["_m"]) for p in r["_mm"]]
    return sorted(cents.items())


def ivf_write_index(corpus: DataFrame, centroids: list[tuple[int, list[float]]],
                    path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    round_digits: int = 6) -> None:
    """Materialize the IVF index: assign each vector its coarse cell
    (map-side expression, no shuffle beyond the write) and write the
    corpus ``partitionBy(ivf_cell)``. After this one-time build, probing
    nprobe cells is *static partition pruning* — non-probed cells are
    never read from storage. This is the 100 TB serving layout the
    in-memory ``ivf_topk`` only simulates with a filter."""
    assigned = corpus.withColumn(
        "ivf_cell", ivf_cell(vec_col, centroids, round_digits))
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)


def _py_affinity(q: list[float], c: list[float]) -> float:
    """Driver-side replica of centroid_affinity's exact arithmetic:
    sequential left-fold dot and norm in IEEE double — bit-identical to
    the JVM expression, so driver-side probe selection agrees with
    engine-side cell assignment."""
    import math

    dp = 0.0
    for x, y in zip(q, c):
        dp = dp + float(x) * float(y)
    nn = 0.0
    for y in c:
        nn = nn + float(y) * float(y)
    return dp / math.sqrt(nn)


def ivf_probe_index(spark, path: str, query_vec: list[float],
                    centroids: list[tuple[int, list[float]]],
                    k: int = 10, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_digits: int = 6,
                    probe_cells: list[int] | None = None) -> DataFrame:
    """Probe a materialized IVF index: pick the ``nprobe`` cells nearest
    the query from the (tiny, driver-side) centroid list, then scan ONLY
    those partitions — the ``ivf_cell`` filter is a partition-column
    predicate, so pruning happens at file listing, before any I/O.

    Pass ``probe_cells`` to supply engine-computed probe scores instead
    of the driver-side math (python round() is banker's; Spark round()
    is HALF_UP — a boundary-exact caller should score cells with the
    engine expression, as ``ivf_topk`` does)."""
    if probe_cells is not None:
        probe = list(probe_cells)[:nprobe]
    else:
        scored = sorted(
            ((round(_py_affinity(query_vec, ce), round_digits), cid)
             for cid, ce in centroids),
            key=lambda t: (-t[0], t[1]))
        probe = [cid for _s, cid in scored[:nprobe]]
    cand = spark.read.parquet(path).filter(F.col("ivf_cell").isin(probe))
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col,
                            vec_col=vec_col, round_digits=round_digits)


def ivf_topk(embeddings: DataFrame, query_vec: list[float],
             centroid_ids: list[int], k: int = 10, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_digits: int = 6,
             centroid_scores: list[tuple[int, list[float], float]]
             | None = None) -> DataFrame:
    """IVF-style ANN: deterministic coarse centroids (corpus vectors with
    the given ids), nearest-centroid cell assignment, then exact cosine
    top-k over only the ``nprobe`` cells nearest the query.

    Scale path vs brute force: the candidate set shrinks ~nprobe/nlist;
    with the cell materialized as a partition column the non-probed cells
    are never read at all. Centroid selection here is deterministic (ids)
    so the DuckDB oracle can replay it; swap in k-means||-trained
    centroids for production recall.

    ``centroid_scores``: optional pre-fetched (cid, vector, probe score)
    rows — pass them when the caller already collected the centroids
    (e.g. fused with the query-vector fetch in ONE action), so this
    function submits zero driver jobs. Scores must come from the same
    engine expression (round(centroid_affinity(q, c), round_digits))
    for oracle parity.
    """
    q = const_double_array(query_vec)
    if centroid_scores is None:
        # One driver job fetches the centroid vectors AND their probe
        # scores (the same engine expression as the corpus scoring —
        # rounding parity with the oracle).
        cent_rows = (embeddings.filter(F.col(id_col).isin(centroid_ids))
                     .select(F.col(id_col).alias("cid"),
                             F.col(vec_col).alias("ce"),
                             F.round(centroid_affinity(q, F.col(vec_col)),
                                     round_digits).alias("cs"))
                     .collect())
        centroid_scores = [(r["cid"], list(r["ce"]), r["cs"])
                           for r in cent_rows]
    centroids = [(cid, list(ce)) for cid, ce, _cs in centroid_scores]
    probe = [cid for cid, _ce, cs in
             sorted(centroid_scores, key=lambda t: (-t[2], t[0]))[:nprobe]]

    cand = embeddings.filter(
        ivf_cell(vec_col, centroids, round_digits).isin(probe))
    scored = cand.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), round_digits).alias("cos_sim"))
    return (scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
                  .limit(k))


# --- int8 scalar quantization ----------------------------------------------

def dim_minmax(embeddings: DataFrame, vec_col: str = "embedding",
               ) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the quantizer's
    one-time "training" pass (the SQ analog of the IVF centroid build).
    posexplode + groupBy(pos) is map-side combined, so the shuffle
    carries dims x partitions partials; only `dims` rows reach the
    driver."""
    rows = (embeddings
            .select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min(F.col("x").cast("double")).alias("mn"),
                 F.max(F.col("x").cast("double")).alias("mx"))
            .collect())
    return [(r["mn"], r["mx"]) for r in sorted(rows, key=lambda r: r["pos"])]


def global_scale(minmax: list[tuple[float, float]]) -> float:
    """Single symmetric quantizer scale: max over dims of
    max(|min|, |max|). The scale must be UNIFORM across dimensions for
    the integer code dot product to be monotone in the float dot
    product: with per-dim scales s_i, sum(c_i * qc_i) approximates
    sum(x_i * q_i / s_i^2) — a 1/s_i^2-WEIGHTED inner product that
    re-ranks results (measured recall@10 drops from 0.9-1.0 to 0.7 on
    the test corpus). Symmetric (zero-centered) codes keep the
    approximation unbiased — an affine min-shift would add a
    per-vector bias term that scrambles the ranking."""
    return max((max(abs(mn), abs(mx)) for mn, mx in minmax), default=0.0)


#: rerank code resolution: 2^20-1 levels. Error ~1e-6 relative, and the
#: dot product of two 64-dim code vectors stays < 64 * (2^20)^2 = 2^46,
#: well inside int64 — so rerank scoring is still exact integer math.
RERANK_LEVELS = float((1 << 20) - 1)


def quantize_codes(vec_col: Column, scale: float,
                   levels: float = 127.0) -> Column:
    """Symmetric integer codes: floor(x * levels / scale) per
    dimension, clamped to [-levels, levels]; scale 0 (all-zero corpus)
    codes to 0. Pure double arithmetic in one fixed expression order,
    so the engine and the SQL oracle produce identical codes
    bit-for-bit. levels=127 is the int8 storage code book; the rerank
    path reuses the same formula at RERANK_LEVELS."""
    s = F.lit(float(scale))
    lv = float(levels)

    def code(x):
        raw = F.floor(x.cast("double") * lv / s).cast("long")
        return F.when(s == 0.0, F.lit(0)).otherwise(
            F.least(F.lit(int(lv)), F.greatest(F.lit(-int(lv)), raw)))

    return F.transform(vec_col, code)


def _quantize_query(query_vec: list[float], scale: float,
                    levels: float) -> list[int]:
    """Driver-side twin of quantize_codes (python doubles == SQL
    doubles, same expression order)."""
    out = []
    for v in query_vec:
        if scale == 0:
            out.append(0)
        else:
            raw = int(math.floor(float(v) * levels / scale))
            out.append(min(int(levels), max(-int(levels), raw)))
    return out


def _int_dot(codes: Column, qcodes: list[int]) -> Column:
    q_arr = F.array(*[F.lit(c) for c in qcodes])
    return F.aggregate(
        F.zip_with(codes, q_arr, lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def quantized_topk(embeddings: DataFrame, query_vec: list[float],
                   scale: float, k: int = 10, rerank: int | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   ) -> DataFrame:
    """ANN over int8-quantized vectors: the integer dot product of the
    uniformly-scaled code arrays is a monotone approximation of the
    float dot-product ranking (= cosine for normalized embeddings) —
    the 4x memory / bandwidth reduction that makes a 100 TB embedding
    store scannable. The query is quantized with the SAME formula
    driver-side; scoring is exact integer arithmetic, so the
    approximate RANKING is deterministic and oracle-checkable. Zero
    shuffle: scan + TakeOrderedAndProject.

    rerank=m adds the standard two-stage refinement: the int8 scan
    keeps k*m candidates, which are re-scored with RERANK_LEVELS-
    resolution codes (~1e-6 relative error, still exact int64 math —
    no float-noise nondeterminism) and cut to k. Measured recall@10 vs
    exact float32: 0.9-1.0 without rerank, 1.0 with rerank=4 on the
    test corpus. At 100 TB the candidate cut is k*m rows — the rerank
    sort is driver-trivial while the scan stays int8-bandwidth."""
    codes8 = quantize_codes(F.col(vec_col), scale)
    qdot = _int_dot(codes8, _quantize_query(query_vec, scale, 127.0))
    if rerank is None:
        return (embeddings
                .select(F.col(id_col), qdot.alias("qdot"))
                .orderBy(F.col("qdot").desc(), F.col(id_col).asc())
                .limit(k))
    codes20 = quantize_codes(F.col(vec_col), scale, RERANK_LEVELS)
    rdot = _int_dot(codes20,
                    _quantize_query(query_vec, scale, RERANK_LEVELS))
    cand = (embeddings
            .select(F.col(id_col), qdot.alias("qdot"), rdot.alias("rdot"))
            .orderBy(F.col("qdot").desc(), F.col(id_col).asc())
            .limit(k * rerank))
    return (cand.orderBy(F.col("rdot").desc(), F.col(id_col).asc())
                .limit(k))


def quantized_gram_matrix(embeddings: DataFrame, vec_col: str = "embedding",
                          dims: int = 16, scale: int = 1000) -> DataFrame:
    """Distributed gram matrix (sum of per-row outer products) over the
    first ``dims`` embedding dimensions — the aggregation behind PCA /
    whitening / covariance-based dimensionality reduction of a corpus's
    embedding space: G = Σ_rows q·qᵀ, after integer quantization
    (floor(x*scale)) so partial-sum order cannot change the answer
    (float + is non-associative; integer + is — the repo-wide
    cross-engine rule applied to linear algebra).

    Shape: one map-only explode of the d(d+1)/2 upper-triangle products
    per row, then ONE shuffle whose key space is d(d+1)/2 cells (136
    for d=16) with map-side partial sums — shuffle bytes are
    O(partitions · d²), independent of row count. The driver never sees
    row data; the k×k result is the only small output. Eigen-decomposing
    the k×k result is driver-trivial (same pattern as kmeans_refine's
    k centroids).

    Overflow headroom: |floor(x·1000)| ≲ 4e3 for unit-scale embeddings
    ⇒ products ≲ 1.6e7; a signed-long sum holds ~5e11 such rows per
    cell. Past that, re-quantize coarser or cast the partial column to
    decimal(38,0) — noted here so the 100 TB operator has a documented
    envelope.

    Returns (i, j, gram) for 0 <= i <= j < dims.
    """
    q = F.transform(F.slice(F.col(vec_col), 1, dims),
                    lambda x: F.floor(x.cast("double") * scale).cast("long"))
    staged = embeddings.select(q.alias("_q"))
    d = F.size(F.col("_q"))
    pairs = F.flatten(F.transform(
        F.col("_q"),
        lambda x, i: F.transform(
            F.slice(F.col("_q"), i + 1, d - i),
            lambda y, k: F.struct(i.alias("i"), (i + k).alias("j"),
                                  (x * y).alias("p")))))
    exploded = staged.select(F.explode(pairs).alias("_e")) \
                     .select(F.col("_e.i").alias("i"),
                             F.col("_e.j").alias("j"),
                             F.col("_e.p").alias("p"))
    return (exploded.groupBy("i", "j")
            .agg(F.sum("p").cast("long").alias("gram")))


def pca_project(embeddings: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", dims: int = 16, k: int = 2,
                scale: int = 1000) -> DataFrame:
    """Project each embedding onto the corpus's top-``k`` principal
    components — distributed everywhere it matters, driver-side only
    where the data is k-bounded (the kmeans_refine pattern):

    1. covariance from TWO distributed aggregates: the quantized gram
       matrix (d(d+1)/2 cells) and the per-dimension sums (d cells) —
       the corpus is scanned once per aggregate, nothing row-shaped
       reaches the driver;
    2. a d x d eigen-decomposition on the driver (d=16: microseconds);
    3. projection as a map-only column expression with the d*k component
       loadings embedded as literals (32 doubles — nothing like the
       bloom-words literal blowup).

    Returns (id_col, pc) with pc an array<double> of length k, ordered
    by descending eigenvalue. Eigenvector SIGN is normalized (first
    nonzero loading positive) so results are deterministic across
    LAPACK builds. No DuckDB oracle — eigendecomposition is not
    SQL-expressible; correctness is unit-tested against numpy's PCA on
    the same quantized covariance.
    """
    import numpy as np

    q = F.transform(F.slice(F.col(vec_col), 1, dims),
                    lambda x: F.floor(x.cast("double") * scale).cast("long"))
    staged = embeddings.select(F.col(id_col), q.alias("_q"))
    n = staged.count()
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    gram_rows = quantized_gram_matrix(embeddings, vec_col, dims, scale) \
        .collect()
    sums = (staged.select(F.posexplode("_q").alias("_i", "_v"))
            .groupBy("_i").agg(F.sum("_v").alias("_s")).collect())
    g = np.zeros((dims, dims))
    for r in gram_rows:
        g[r["i"]][r["j"]] = g[r["j"]][r["i"]] = r["gram"]
    m = np.zeros(dims)
    for r in sums:
        m[r["_i"]] = r["_s"]
    m = m / (n * scale)
    cov = g / (n * scale * scale) - np.outer(m, m)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]  # d x k
    for j in range(k):
        nz = np.flatnonzero(np.abs(comps[:, j]) > 1e-12)
        if len(nz) and comps[nz[0], j] < 0:
            comps[:, j] = -comps[:, j]

    x = F.transform(F.slice(F.col(vec_col), 1, dims),
                    lambda v: v.cast("double"))
    coords = []
    for j in range(k):
        comp = const_double_array([comps[i, j] for i in range(dims)])
        offset = float(m @ comps[:, j])
        coords.append(F.aggregate(
            F.zip_with(x, comp, lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v) - F.lit(offset))
    return embeddings.select(F.col(id_col), F.array(*coords).alias("pc"))


def _flip_bits(bucket: Column, positions: tuple[int, ...],
               num_bits: int) -> Column:
    """Bucket string with the given bit positions flipped — one probe of
    a multi-probe LSH expansion."""
    parts = []
    for i in range(num_bits):
        c = F.substring(bucket, i + 1, 1)
        if i in positions:
            parts.append(F.when(c == "1", F.lit("0")).otherwise(F.lit("1")))
        else:
            parts.append(c)
    return F.concat(*parts)


def _probe_sets(num_bits: int, radius: int) -> list[tuple[int, ...]]:
    """All bit-position subsets of size <= radius (the query's own
    bucket plus every bucket within Hamming `radius`)."""
    from itertools import combinations

    out: list[tuple[int, ...]] = []
    for r in range(radius + 1):
        out.extend(combinations(range(num_bits), r))
    return out


def hard_negative_candidates(corpus: DataFrame, queries: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             label_col: str = "label",
                             round_digits: int = 6,
                             prefilter: str | None = None,
                             num_bits: int = 8, probe_hamming: int = 1,
                             centroids: list[tuple[int, list[float]]]
                             | None = None,
                             nprobe: int = 2) -> DataFrame:
    """Scored (query, candidate-negative) pairs — the stage before the
    per-query top-k cut of ``hard_negatives``.

    ``prefilter`` picks the candidate-generation plan:

    - ``None`` — exact: the labeled query set broadcasts to every
      corpus partition (BroadcastNestedLoop); cost is |corpus| x |Q|
      score evaluations. Fine for small query sets; the linear pass
      the prefilters exist to avoid at 100 TB.
    - ``"lsh"`` — multi-probe sign-LSH: the corpus computes its
      ``num_bits``-bit sign bucket map-side; each query expands to
      every bucket within Hamming distance ``probe_hamming`` (for
      8 bits / radius 1 that is 9 of 256 buckets) and the candidate
      set is a broadcast EQUI-join on the bucket string — only
      ~sum(C(b,i))/2^b of the corpus is ever scored, and the corpus
      is never shuffled. A corpus row matches at most one probe of a
      given query (its bucket), so no pair duplicates.
    - ``"ivf"`` — coarse-quantizer cells: corpus rows get their
      ``ivf_cell`` map-side (centroids required); each query probes
      its ``nprobe`` highest-affinity cells (engine-side expression,
      same rounding as the corpus assignment) and candidates come
      from a broadcast equi-join on the cell id. With the corpus
      written ``partitionBy(ivf_cell)`` the non-probed cells are
      statically pruned at the scan.

    RECALL CAVEAT (measured, not hand-waved): ANN prefilters exploit
    neighborhood structure. The synthetic test embeddings are
    ISOTROPIC (top-3 neighbor cosines ~0.26-0.49; mean same-label vs
    cross-label cosine 0.007 vs 0.002), so true neighbors sit up to
    Hamming 7-of-8 from the query bucket and NO honest prune can hold
    recall at 1.0 on this corpus — a prefilter that did would not be
    pruning. The gated query (`hard_negative_mining_ann`) therefore
    replays the prefilter semantics bit-exactly in SQL AND reports
    measured recall vs the exact top-k, the same calibration pattern
    as `ann_recall_calibration`; on clustered production embeddings
    the same knobs trade recall against the pruned fraction."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qv"),
                       F.col(label_col).alias("query_label"))
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_cv"),
                      F.col(label_col).alias("neg_label"))
    if prefilter is None:
        joined = c.crossJoin(F.broadcast(q))
    elif prefilter == "lsh":
        cb = c.withColumn("_b", sign_bucket(F.col("_cv"), num_bits))
        qb = q.withColumn("_qb", sign_bucket(F.col("_qv"), num_bits))
        probes = F.array(*[_flip_bits(F.col("_qb"), s, num_bits)
                           for s in _probe_sets(num_bits, probe_hamming)])
        qp = (qb.select("query_id", "_qv", "query_label",
                        F.explode(probes).alias("_b")))
        joined = cb.join(F.broadcast(qp), "_b")
    elif prefilter == "ivf":
        if not centroids:
            raise ValueError("prefilter='ivf' requires centroids")
        cents = sorted(centroids, key=lambda t: t[0])
        cc = c.withColumn("_cell",
                          ivf_cell("_cv", cents, round_digits))
        # Per-query probe cells as a pure column expression: struct
        # array (-affinity, cid) sorted ascending = affinity desc with
        # cid tiebreak — the exact ordering ivf_topk's driver-side
        # selection uses, but computed engine-side per query row.
        pairs = F.array(*[
            F.struct(
                (-F.round(centroid_affinity(
                    F.col("_qv"),
                    const_double_array(ce)),
                    round_digits)).alias("s"),
                F.lit(int(cid)).alias("c"))
            for cid, ce in cents])
        probe_arr = F.transform(F.slice(F.array_sort(pairs), 1, nprobe),
                                lambda st: st["c"])
        qp = (q.select("query_id", "_qv", "query_label",
                       F.explode(probe_arr).alias("_cell")))
        joined = cc.join(F.broadcast(qp), "_cell")
    else:
        raise ValueError(f"unknown prefilter {prefilter!r}")
    return (joined
            .filter(F.col("neg_label") != F.col("query_label"))
            .select("query_id", "query_label", "vec_id", "neg_label",
                    F.round(cosine(F.col("_cv"), F.col("_qv")),
                            round_digits).alias("cos_sim")))


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   round_digits: int = 6,
                   prefilter: str | None = None,
                   num_bits: int = 8, probe_hamming: int = 1,
                   centroids: list[tuple[int, list[float]]] | None = None,
                   nprobe: int = 2) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: per
    query, the k corpus vectors MOST similar by cosine whose label
    DIFFERS from the query's — the near-boundary negatives that teach
    a retriever the most (easy negatives are already far away).

    Candidate generation is ``hard_negative_candidates`` (see its
    docstring for the exact / lsh / ivf plans and the measured recall
    caveat); the per-query cut is one window on query_id. Returns
    (query_id, query_label, neg_rank, vec_id, neg_label, cos_sim)."""
    scored = hard_negative_candidates(
        corpus, queries, id_col=id_col, vec_col=vec_col,
        label_col=label_col, round_digits=round_digits,
        prefilter=prefilter, num_bits=num_bits,
        probe_hamming=probe_hamming, centroids=centroids, nprobe=nprobe)
    return negatives_topk_cut(scored, k)


def negatives_topk_cut(scored: DataFrame, k: int) -> DataFrame:
    """The per-query top-k cut of ``hard_negatives``, split out so a
    caller that already holds the scored candidate frame (e.g. a
    calibration query that reports BOTH the candidate counts and the
    cut) applies the cut without re-building the candidate expression
    tree — the LSH probe expansion is ~300 driver-side column calls,
    measurably slow to construct twice (guide §1.2)."""
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()))
    return (scored.withColumn("neg_rank",
                              F.row_number().over(w).cast("int"))
                  .filter(F.col("neg_rank") <= k)
                  .select("query_id", "query_label", "neg_rank",
                          "vec_id", "neg_label", "cos_sim"))
