"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the correctness baseline; an LSH-bucketed
(random-hyperplane / sign-bit) variant as the scale path: at 100 TB
the cross join is infeasible, but hyperplane buckets shrink each
probe to one bucket's worth of candidates, and the bucket join is a
plain equi-join Catalyst shuffles on the bucket key.

All scores are computed in float64 with a fixed left-to-right
accumulation (F.aggregate) and exported as `cos_milli`
(round(1000*cos) int) so a DuckDB oracle hash-matches without float
drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdfwf_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    _band_rows,
    _capped_self_join,
    cap_hot_groups,
)


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


# NOTE (r6, measured): unrolling _dot into a 64-term element_at chain
# is 10x SLOWER than the fold (98.7 s vs 9.3 s on the sf1 semdedup
# pair scan) — the giant expression bails out of whole-stage codegen
# and interpreted GetArrayItem-with-null-checks costs far more than
# the single fold. Keep the higher-order-function _dot.


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_unit_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Precompute the L2 norm once per row (scan-side, codegen'd)."""
    v = _as_double(F.col(vec_col))
    return emb.withColumn("_vec", v).withColumn("_norm", _norm(F.col("_vec")))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query side,
    score every corpus row, rank per query.

    Output: q_id, n_id, rank, cos_milli. Ties after rounding break on
    n_id ascending so the result is total-order deterministic.
    """
    corpus = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("n_id"), "_vec", F.col("_norm").alias("_n_norm")
    )
    qs = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("_vec").alias("_q_vec"),
        F.col("_norm").alias("_q_norm"),
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("n_id") != F.col("q_id"))
        .withColumn(
            "cos_milli",
            F.round(
                1000 * _dot(F.col("_vec"), F.col("_q_vec"))
                / (F.col("_n_norm") * F.col("_q_norm"))
            ).cast("int"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_milli"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos_milli")
    )


MAX_EXACT_NEARDUP_ROWS = 2000


def exact_neardup_pairs(
    emb: DataFrame,
    threshold_milli: int = 950,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = MAX_EXACT_NEARDUP_ROWS,
) -> DataFrame:
    """All-pairs cosine near-dup — the ORACLE BASELINE, O(n^2).

    Hard-guarded: refuses inputs above `max_rows` so the quadratic
    theta-join can never be pointed at a full corpus by accident. The
    production path is bucketed_neardup_pairs (LSH equi-join).
    """
    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"exact_neardup_pairs is an O(n^2) baseline guarded at "
            f"{max_rows} rows; got {n}. Use bucketed_neardup_pairs for "
            f"corpus-scale near-dup."
        )
    v = emb.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
        _norm(_as_double(F.col(vec_col))).alias("nrm"),
    )
    l, r = v.alias("l"), v.alias("r")
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .withColumn(
            "cos_milli",
            F.round(
                1000 * _dot(F.col("l.vec"), F.col("r.vec"))
                / (F.col("l.nrm") * F.col("r.nrm"))
            ).cast("int"),
        )
        .filter(F.col("cos_milli") >= threshold_milli)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), "cos_milli")
    )


def _plane_sign(seed: int, table: int, plane: int, j: Column) -> Column:
    """Hyperplane component in {-1,+1} for dimension j, derived from
    md5 (NOT xxhash64) so a DuckDB oracle reproduces the exact planes:
    parity of md5('{seed}#{table}#{plane}#{j}')'s first hex digit."""
    digest = F.md5(
        F.concat_ws("#", F.lit(str(seed)), F.lit(str(table)), F.lit(str(plane)),
                    j.cast("string"))
    )
    return F.conv(F.substring(digest, 1, 1), 16, 10).cast("int") % 2 * 2 - 1


def _plane_signs_py(seed: int, table: int, plane: int, dim: int) -> list[int]:
    """Driver-side twin of _plane_sign: the SAME md5 derivation via
    hashlib, materialized once as a literal ±1 vector. Plane components
    are row-independent, so evaluating md5 per (row x dim x plane) on
    executors is pure waste — measured ~5x on emb_neardup_lsh."""
    import hashlib

    return [
        (int(hashlib.md5(f"{seed}#{table}#{plane}#{j}".encode()).hexdigest()[0], 16)
         % 2) * 2 - 1
        for j in range(dim)
    ]


def hyperplane_bucket(
    vec_col: str, n_planes: int, seed: int = 42, table: int = 0,
    dim: int | None = None,
) -> Column:
    """Sign-bit LSH bucket: bit i = sign(<v, h_i>), planes deterministic
    per (seed, table, plane, dim-index) — every executor derives
    identical planes, no driver-side randomness, no broadcast.

    With `dim` known, planes are embedded as literal ±1 arrays
    (hashlib, identical derivation — constant-folded by codegen);
    without it, each component is an executor-side md5 (slow path,
    kept for dim-agnostic composition)."""
    v = _as_double(F.col(vec_col))

    def _term(plane: int):
        # closure factory: zip_with requires an arity-2 lambda
        return lambda x, j: x * _plane_sign(seed, table, plane, j)

    bucket = None
    for i in range(n_planes):
        if dim is not None:
            signs = F.array(
                *[F.lit(float(s)) for s in _plane_signs_py(seed, table, i, dim)]
            )
            zipped = F.zip_with(v, signs, lambda x, s: x * s)
        else:
            zipped = F.zip_with(
                v, F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1), _term(i)
            )
        proj = F.aggregate(zipped, F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization with DETERMINISTIC centroids: the
    vectors with id < n_centroids act as centroids (reproducible in
    DuckDB, no k-means iterations); every vector is assigned to the
    centroid with the highest quantized cosine (cos_milli int — float
    comparisons never cross engines), ties broken by centroid id.

    Plan shape: centroid side is tiny -> broadcast nested-loop score +
    one map-side-combining min_by per vector. No shuffle of the corpus.
    """
    base = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm"
    )
    cents = base.filter(F.col("id") < n_centroids).select(
        F.col("id").alias("cid"), F.col("_vec").alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
    )
    # a non-0-based / non-numeric id space would silently yield an
    # EMPTY centroid set (and an empty inner-join result downstream).
    n_found = cents.limit(n_centroids).count()
    if n_found < n_centroids:
        raise ValueError(
            f"ivf_assign expects ids 0..{n_centroids - 1} to exist as "
            f"centroids; found {n_found}. Remap ids or lower n_centroids."
        )
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "cos_milli",
        F.round(1000 * _dot(F.col("_vec"), F.col("_cvec"))
                / (F.col("_norm") * F.col("_cnorm"))).cast("int"),
    )
    best = scored.groupBy("id").agg(
        F.max(F.struct(F.col("cos_milli"), (-F.col("cid")).alias("neg_cid"))).alias("b")
    )
    return (
        emb.join(
            best.select(
                F.col("id").alias(id_col), (-F.col("b.neg_cid")).alias("cell")
            ),
            id_col,
        )
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: scan only the n_probe cells nearest each
    query instead of the whole corpus — the standard ANN scale path
    next to the LSH variant (recall rises with n_probe; n_probe =
    n_centroids degrades to exact brute force).

    Output: q_id, n_id, rank, cos_milli — same contract as cosine_topk.
    """
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col)
    corpus = with_unit_norm(assigned, vec_col).select(
        F.col(id_col).alias("n_id"), "cell", "_vec",
        F.col("_norm").alias("_n_norm"),
    )
    # probe cells per query: rank centroids by quantized cosine
    q_assigned = with_unit_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("_vec").alias("_q_vec"),
        F.col("_norm").alias("_q_norm"),
    )
    cents = with_unit_norm(
        emb.filter(F.col(id_col) < n_centroids), vec_col
    ).select(
        F.col(id_col).alias("cell"), F.col("_vec").alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
    )
    probe_w = Window.partitionBy("q_id").orderBy(
        F.desc("c_cos_milli"), F.asc("cell")
    )
    probes = (
        q_assigned.crossJoin(F.broadcast(cents))
        .withColumn(
            "c_cos_milli",
            F.round(1000 * _dot(F.col("_q_vec"), F.col("_cvec"))
                    / (F.col("_q_norm") * F.col("_cnorm"))).cast("int"),
        )
        .withColumn("p_rank", F.row_number().over(probe_w))
        .filter(F.col("p_rank") <= n_probe)
        .select("q_id", "_q_vec", "_q_norm", "cell")
    )
    scored = (
        corpus.join(probes, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn(
            "cos_milli",
            F.round(1000 * _dot(F.col("_vec"), F.col("_q_vec"))
                    / (F.col("_n_norm") * F.col("_q_norm"))).cast("int"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_milli"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos_milli")
    )


def _probe_dim(emb: DataFrame, vec_col: str) -> int | None:
    """One-row probe for the embedding dimensionality (drives the
    literal-plane fast path; a LIMIT 1 scan, negligible at any scale)."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None else None


def bucketed_neardup_pairs(
    emb: DataFrame,
    threshold_milli: int = 950,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 2,
    seed: int = 42,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs (cosine >= threshold) among same-bucket
    vectors — the 100 TB path: per-table bucket equi-joins bound the
    pair blowup (never all-pairs), and n_tables independent plane sets
    raise recall (a pair is a candidate if it collides in ANY table —
    the standard multi-table LSH trade: recall vs n_tables x work).
    Candidates are distinct'd before scoring so cosine is computed
    once per pair.

    max_bucket_size (default dedup.DEFAULT_MAX_BUCKET): hyperplane
    buckets larger than the cap are dropped before the self-join —
    without it one degenerate bucket (e.g. the cell all zero-vectors
    hash into) is quadratic within itself at corpus scale.
    """
    dim = _probe_dim(emb, vec_col)
    base = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm",
        *[
            hyperplane_bucket(vec_col, n_planes, seed, t, dim).alias(f"bucket_{t}")
            for t in range(n_tables)
        ],
    )
    rows = _band_rows(base, "id", [F.col(f"bucket_{t}") for t in range(n_tables)])
    cands = _capped_self_join(rows, "id", ["band", "bucket"], max_bucket_size).distinct()
    va = base.select(F.col("id").alias("id_a"), F.col("_vec").alias("_va"),
                     F.col("_norm").alias("_na"))
    vb = base.select(F.col("id").alias("id_b"), F.col("_vec").alias("_vb"),
                     F.col("_norm").alias("_nb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_milli",
            F.round(1000 * _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
            .cast("int"),
        )
        .filter(F.col("cos_milli") >= threshold_milli)
        .select("id_a", "id_b", "cos_milli")
    )


def _nearest_centroid(vm: Column, cents: list) -> Column:
    """struct(dist, cluster) of the nearest centroid for a quantized
    milli-int vector: argmin of integer squared-L2 with ties broken by
    lowest cluster id, expressed as sort_array over (dist, cluster)
    structs — the exact total order both kmeans assignment paths pin
    (all-integer, bit-stable under any partitioning)."""
    entries = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    vm,
                    F.array(*[F.lit(v) for v in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
            F.lit(j).alias("cluster"),
        )
        for j, c in enumerate(cents)
    ]
    return F.sort_array(F.array(*entries))[0]


def kmeans_cluster(
    emb: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "literal",
) -> tuple[DataFrame, list[list[int]]]:
    """Integer-quantized Lloyd's k-means — the centroid refinement step
    an IVF index runs offline (ivf_assign's id<k seeding is its init).

    Everything numeric is exact int64 so the algorithm is bit-stable
    under any partitioning (float partial sums are not associative;
    integer sums are): vectors quantize to milli ints once, assignment
    is argmin of integer squared-L2 (ties -> lowest cluster id), and
    the update is floor-div of integer per-dimension sums. Per
    iteration: one broadcast argmin over k literal centroid arrays
    (zero shuffle of the corpus beyond the posexplode aggregate) + one
    (cluster, dim)-keyed sum whose result is k x dim rows — collected
    to the driver, floor-divided, and re-broadcast as literals. Empty
    clusters keep their previous centroid. At 100 TB the per-iter
    shuffle carries only map-side-combined (cluster, dim) partials.

    Returns (assignment DF (id_col, cluster, dist), final centroids as
    k milli-int lists). tests/test_ops.py pins exact equality against
    a pure-Python/numpy twin.

    assign="literal" (default) embeds the k centroid arrays as plan
    literals — zero join, ideal while k*dim stays small (<= ~1e4
    values; beyond that the expression tree itself becomes the
    bottleneck). assign="broadcast" ships the centroids as a
    broadcast-joined k-row DataFrame instead: one broadcast-hash
    cross join + an integer min(struct(dist, cluster)) argmin — the
    same exact-integer result (pinned by pytest), scaling to large
    k*dim at the cost of one id-keyed argmin shuffle per iteration
    (map-side combining, so it moves one row per vector).
    """
    if k <= 0 or iters < 0:
        raise ValueError(f"need k > 0, iters >= 0; got k={k}, iters={iters}")
    if assign not in ("literal", "broadcast"):
        raise ValueError(f"assign must be 'literal' or 'broadcast', got {assign!r}")
    q = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: F.round(1000 * x.cast("double")).cast("long")
        ).alias("_vm"),
    ).localCheckpoint(eager=False)

    init_rows = (
        q.filter(F.col(id_col) < k).orderBy(id_col).select(id_col, "_vm").collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"kmeans_cluster seeds centroids from ids 0..{k - 1}; "
            f"found only {len(init_rows)}"
        )
    cents = [list(r["_vm"]) for r in init_rows]

    def _best_literal() -> Column:
        return _nearest_centroid(F.col("_vm"), cents)

    def _assigned_literal() -> DataFrame:
        best = _best_literal()
        return q.select(
            F.col(id_col),
            best["cluster"].alias("cluster"),
            best["dist"].alias("dist"),
        )

    def _assigned_broadcast() -> DataFrame:
        # centroids as k broadcast rows; argmin via min(struct(dist,
        # cluster)) — the identical (dist, cluster) total order the
        # literal path's sort_array takes, all-integer, so both paths
        # are bit-equal under any partitioning
        cdf = emb.sparkSession.createDataFrame(
            [(j, list(c)) for j, c in enumerate(cents)],
            "cluster int, _cvec array<bigint>",
        )
        dist = F.aggregate(
            F.zip_with(
                F.col("_vm"), F.col("_cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = q.crossJoin(F.broadcast(cdf)).withColumn("_dist", dist)
        best = scored.groupBy(id_col).agg(
            F.min(F.struct(F.col("_dist"), F.col("cluster"))).alias("b")
        )
        return best.select(
            F.col(id_col),
            F.col("b.cluster").alias("cluster"),
            F.col("b._dist").alias("dist"),
        )

    assigned = _assigned_literal if assign == "literal" else _assigned_broadcast
    dim = len(cents[0])

    for _ in range(iters):
        if assign == "literal":
            # the assignment expression already reads the checkpointed
            # _vm, so the per-dim sums can be taken in the SAME pass —
            # no join back to q, no n x dim posexplode: one groupBy
            # whose map-side partials are k rows x (dim + 1) longs (r6;
            # previously: assignment -> id-keyed shuffle join ->
            # posexplode -> (cluster, pos) aggregate)
            rows = (
                q.select(_best_literal()["cluster"].alias("cluster"), "_vm")
                .groupBy("cluster")
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    *[
                        F.sum(F.element_at("_vm", i + 1)).alias(f"s_{i}")
                        for i in range(dim)
                    ],
                )
                .collect()
            )
            new_cents = [list(c) for c in cents]  # empty cluster keeps old
            for r in rows:
                vec = new_cents[r["cluster"]]
                for i in range(dim):
                    # python floor division: exact, negative-safe, and
                    # reproduced verbatim by the pytest twin
                    vec[i] = r[f"s_{i}"] // r["c"]
            cents = new_cents
        else:
            a = assigned()
            sums = (
                a.join(q, id_col)
                .select("cluster", F.posexplode("_vm").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
                .collect()
            )
            new_cents = [list(c) for c in cents]  # empty cluster keeps old
            by_cluster: dict[int, list] = {}
            for r in sums:
                by_cluster.setdefault(r["cluster"], []).append(r)
            for cl, rows_ in by_cluster.items():
                vec = new_cents[cl]
                for r in rows_:
                    vec[r["pos"]] = r["s"] // r["c"]
            cents = new_cents

    return assigned(), cents


def ivf_topk_kmeans(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 3,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "literal",
) -> DataFrame:
    """IVF top-k over k-means-REFINED cells: kmeans_cluster fits the
    coarse quantizer offline (integer Lloyd's — bit-stable), then both
    corpus vectors and queries route by integer squared-L2 to the
    refined centroids, and scoring inside the probed cells stays the
    same quantized cosine as ivf_topk. Refined cells track the data
    distribution instead of ivf_assign's arbitrary id<k seeds, which
    is what keeps per-cell populations balanced on clustered corpora.

    n_probe = n_centroids degrades to exact brute force (every cell
    scanned), which the test pins against cosine_topk. Output contract
    matches cosine_topk/ivf_topk: (q_id, n_id, rank, cos_milli).

    `assign` is forwarded to the kmeans FIT (where literal centroids
    cost iters x plan-embeds); the one-shot cell ROUTING below stays
    literal — a single k-array embed, bounded by the same k*dim <=
    ~1e4 guidance as kmeans_cluster's literal path.
    """
    _, cents = kmeans_cluster(emb, k=n_centroids, iters=iters,
                              id_col=id_col, vec_col=vec_col, assign=assign)

    def cell_of(df: DataFrame, out: str) -> DataFrame:
        q = df.withColumn(
            "_vm",
            F.transform(
                F.col(vec_col), lambda x: F.round(1000 * x.cast("double")).cast("long")
            ),
        )
        entries = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("_vm"),
                        F.array(*[F.lit(v) for v in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(j).alias("cell"),
            )
            for j, c in enumerate(cents)
        ]
        return q.withColumn(out, F.sort_array(F.array(*entries))).drop("_vm")

    corpus = with_unit_norm(cell_of(emb, "_cells"), vec_col).select(
        F.col(id_col).alias("n_id"),
        F.col("_cells")[0]["cell"].alias("cell"),
        "_vec",
        F.col("_norm").alias("_n_norm"),
    )
    q_ranked = with_unit_norm(cell_of(queries, "_cells"), vec_col).select(
        F.col(id_col).alias("q_id"), F.col("_vec").alias("_q_vec"),
        F.col("_norm").alias("_q_norm"),
        F.slice("_cells", 1, n_probe).alias("_probes"),
    )
    probes = q_ranked.select(
        "q_id", "_q_vec", "_q_norm",
        F.explode(F.transform("_probes", lambda e: e["cell"])).alias("cell"),
    )
    scored = (
        corpus.join(probes, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn(
            "cos_milli",
            F.round(1000 * _dot(F.col("_vec"), F.col("_q_vec"))
                    / (F.col("_n_norm") * F.col("_q_norm"))).cast("int"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_milli"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos_milli")
    )


def semdedup_pairs(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold_milli: int = 950,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = DEFAULT_MAX_BUCKET,
    assign: str = "literal",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: pairwise cosine
    is evaluated only WITHIN a k-means cell (Abbas et al. 2023's
    cluster-then-compare recipe), turning the O(n^2) all-pairs scan
    into k cell-local self-joins of expected size (n/k)^2. The fit is
    the integer Lloyd's kmeans_cluster (bit-stable under any
    partitioning), so the cells — and therefore the emitted pairs —
    are deterministic and a DuckDB oracle reproduces them by unrolling
    the iterations as CTEs.

    Scale shape: one (cluster, dim)-partial shuffle per Lloyd's iter,
    then ONE equi-self-join keyed on the cell id. At 100 TB, k must
    grow with the corpus (SemDeDup used k ~ sqrt(n); cells ~ n/k rows
    each) and `max_cell` bounds any skewed mega-cell via the same
    windowed guard every banded join in dedup.py uses (drop mode —
    a dropped cell loses only its own intra-cell pairs).

    Returns (l_id, r_id, cell, cos_milli) with l_id < r_id and
    cos_milli >= threshold_milli. Compose with semdedup_prune for the
    keeper view. Reference analog: pdfwf dedups at whole-file
    granularity only (checkpointed path sets, convert.py:249-257);
    semantic near-dup is beyond-parity.
    """
    # ONE checkpointed base row per vector: id, double vector, norm,
    # and the quantized _vm the assignment argmin reads. The fit runs
    # over this base; the final cell assignment is then an INLINE
    # expression on the materialized _vm — no assignment-to-vector
    # join, no second scan (r6; previously: fit joined q back per
    # iter, then the final assignment joined with_unit_norm(emb) by
    # id — two extra shuffles of the corpus).
    base = with_unit_norm(emb, vec_col).select(
        F.col(id_col).alias("id"), "_vec", "_norm",
        F.transform(
            F.col(vec_col), lambda x: F.round(1000 * x.cast("double")).cast("long")
        ).alias("_vm"),
    ).localCheckpoint(eager=False)
    _, cents = kmeans_cluster(
        base, k=k, iters=iters, id_col="id", vec_col="_vec", assign=assign
    )
    best = _nearest_centroid(F.col("_vm"), cents)
    cells = base.select(
        "id", best["cluster"].alias("cell"), "_vec", "_norm"
    )
    cells = cap_hot_groups(cells, ["cell"], max_cell)
    # pair-scan parallelism (r6, guide §2.5): the self-join's only
    # equi-key is the cell id — k keys means at most k busy reduce
    # partitions no matter the cluster size. Sub-split each cell
    # deterministically: the left row carries _ps = xxhash64(id) % S,
    # the right side is replicated S ways, and the join keys on
    # (cell, _ps) — every (l, r) pair still meets EXACTLY once (at
    # l's _ps), so the result set is unchanged while the scan spreads
    # over k*S partitions.
    n_subsplits = 4
    l = cells.select(
        F.col("id").alias("l_id"), "cell",
        F.col("_vec").alias("_lv"), F.col("_norm").alias("_ln"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_subsplits)).alias("_ps"),
    )
    r = cells.select(
        F.col("id").alias("r_id"), "cell",
        F.col("_vec").alias("_rv"), F.col("_norm").alias("_rn"),
    ).withColumn(
        "_ps", F.explode(F.array(*[F.lit(s).cast("long") for s in range(n_subsplits)]))
    )
    return (
        l.join(r, ["cell", "_ps"])
        .filter(F.col("l_id") < F.col("r_id"))
        .withColumn(
            "cos_milli",
            F.round(
                1000 * _dot(F.col("_lv"), F.col("_rv"))
                / (F.col("_ln") * F.col("_rn"))
            ).cast("int"),
        )
        .filter(F.col("cos_milli") >= threshold_milli)
        .select("l_id", "r_id", "cell", "cos_milli")
    )


def semdedup_prune(
    emb: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy SemDeDup keeper rule: drop every vector that appears as
    the GREATER id of any above-threshold pair — i.e. within each
    semantic dup set the lowest id survives (plus any row whose only
    links run through an already-dropped row: greedy, not transitive
    closure — the standard SemDeDup prune, cheaper than connected
    components and deterministic). One distinct on the (small) pair
    list, broadcast anti-join against the corpus; the corpus itself
    is never shuffled.
    """
    losers = pairs.select(F.col("r_id").alias(id_col)).distinct()
    return emb.join(F.broadcast(losers), id_col, "left_anti")
