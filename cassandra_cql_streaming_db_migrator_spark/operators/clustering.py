"""Deterministic Lloyd k-means over an embedding corpus.

The iterative-ML member of the operator family (connected components and
PageRank are the graph members): assignment + centroid update for a fixed
number of rounds, engineered so the result is BIT-IDENTICAL across
engines and partitionings — which is what lets a SQL oracle hash-check an
ML training loop:

  * init: the first ``k`` vectors by id (deterministic, training-free —
    same convention as the IVF coarse quantizer, similarity.py);
  * distances: dimension-SEQUENTIAL fold of (x_i - c_i)^2 in double
    (Catalyst ``aggregate``/``zip_with`` — the proven-bit-equal twin of
    DuckDB's ``list_sum``/``list_transform``); no BLAS reduction, whose
    reassociation would change low bits;
  * assignment: argmin with ties to the LOWEST cluster id (first position
    of the array minimum);
  * update: per-(cluster, dim) means via the integer-quantization rule
    (floor(x*1e10 + 0.5) summed as DECIMAL(38,0)) — cross-row double sums
    are order-dependent, integer sums are not (see label_centroid_stats);
  * empty clusters keep their previous centroid (both engines).

Centroids live on the DRIVER between rounds (k x dim doubles — metadata
scale, same contract as the IVF centroid collect) and re-enter the plan
as a constant-folded nested-array literal, so each round is ONE scan +
one posexplode aggregate of the corpus; no iterative lineage growth, no
checkpoints.  The collect is the round barrier a synchronous Lloyd step
semantically requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sqlexpr
from .caching import materialized

Q = 1e10  # per-element quantization for centroid sums
QI = 1e6  # inertia quantization


def _sq_dist(vec, cent):
    """Sequential-fold squared L2 distance between two double arrays."""
    return F.aggregate(
        F.zip_with(vec, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(valid: DataFrame, cents: list[list[float]], vec_col: str) -> DataFrame:
    # single-parse SQL build (sqlexpr module docstring): the DSL twin of
    # this tree costs ~0.5 s of py4j round trips per construction, repeated
    # every Lloyd iteration of every rep; the string parses in ~2 ms and
    # renders the identical expressions
    vec = sqlexpr.to_double_arr(sqlexpr.ident(vec_col))
    dists = f"transform({sqlexpr.arr_arr_d(cents)}, c -> {sqlexpr.sq_dist(vec, 'c')})"
    return valid.withColumn("__d", F.expr(dists)).withColumn(
        # first position of the min -> ties break to the lowest cluster id
        "__cid",
        F.expr("CAST(array_position(__d, array_min(__d)) - 1 AS INT)"),
    )


def _lloyd_centroids(
    valid: DataFrame,
    k: int,
    iterations: int,
    vec_col: str,
    id_col: str,
) -> list[list[float]]:
    """The Lloyd round loop: returns the final centroid list (driver-side,
    k x dim doubles — metadata scale)."""
    # seed with the first k VALID vectors by id (not `id < k`: ids need
    # not be 0-based dense, and an invalid vector among the low ids must
    # not shrink the seed set); cluster ids are seed POSITIONS 0..k-1 —
    # dense on both engines regardless of the id space
    init = (
        valid.orderBy(id_col)
        .limit(k)
        .select(F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .collect()
    )
    cents = [r[0] for r in init]
    k = len(cents)  # fewer than k valid vectors -> fewer clusters
    for _ in range(iterations):
        assigned = _assign(valid, cents, vec_col)
        per_dim = (
            assigned.select(
                "__cid", F.posexplode(F.col(vec_col)).alias("__pos", "__val")
            )
            .groupBy("__cid", "__pos")
            .agg(
                F.sum(
                    F.floor(
                        F.col("__val").cast("double") * F.lit(Q) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "__cid",
                "__pos",
                (F.col("__s").cast("double") / F.col("__n") / F.lit(Q)).alias(
                    "__c"
                ),
            )
        )
        new = {}
        for r in per_dim.collect():  # k x dim rows — metadata scale
            # index access: Row blocks attribute lookup of __-prefixed names
            new.setdefault(r["__cid"], {})[r["__pos"]] = r["__c"]
        cents = [
            [new[c][i] for i in range(len(cents[c]))] if c in new else cents[c]
            for c in range(k)
        ]
    return cents


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Returns per-cluster stats after ``iterations`` Lloyd rounds:
    ``cluster_id, n_vecs, inertia`` (sum of squared distances to the
    final centroids, quantized at 1e-6)."""
    valid = df.where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    cents = _lloyd_centroids(valid, k, iterations, vec_col, id_col)
    final = _assign(valid, cents, vec_col)
    return (
        final.select(
            F.col("__cid").alias("cluster_id"),
            F.element_at(F.col("__d"), F.col("__cid") + 1).alias("__dist"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(
                    F.floor(F.col("__dist") * F.lit(QI) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(QI),
                4,
            ).alias("inertia"),
        )
    )


def _lloyd_cte_parts(
    table: str,
    k: int,
    iterations: int,
    vec_col: str,
    id_col: str,
    prefix: str = "",
) -> list[str]:
    """The Lloyd rounds unrolled as DuckDB CTEs, ending with ``{prefix}af_``
    (vid, cid, d) — the final assignment.  Shared by the stats oracle
    (kmeans_lloyd_sql), the semdedup oracle, and — instantiated once per
    subspace via ``prefix`` — the product-quantization oracle."""
    p = prefix
    parts = [
        f"""{p}v AS (
  SELECT {id_col}, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS e
  FROM {table}
  WHERE {vec_col} IS NOT NULL AND len({vec_col}) > 0
),
{p}c0 AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cid, e AS c
  FROM (SELECT {id_col}, e FROM {p}v ORDER BY {id_col} LIMIT {k})
)"""
    ]
    prev = f"{p}c0"
    for it in range(1, iterations + 1):
        parts.append(
            f"""{p}d{it} AS (
  SELECT v.{id_col} AS vid, v.e, p.cid,
         list_sum(list_transform(generate_series(1, len(v.e)),
                  i -> (v.e[i] - p.c[i]) * (v.e[i] - p.c[i]))) AS d
  FROM {p}v v, {prev} p
),
{p}a{it} AS (
  SELECT vid, e, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM {p}d{it})
  WHERE rn = 1
),
{p}m{it} AS (
  SELECT cid, generate_subscripts(e, 1) AS dim, unnest(e) AS val FROM {p}a{it}
),
{p}s{it} AS (
  SELECT cid, dim,
         CAST(sum(CAST(floor(val * 1e10 + 0.5) AS HUGEINT)) AS DOUBLE)
           / count(*) / 1e10 AS cv
  FROM {p}m{it} GROUP BY cid, dim
),
{p}c{it} AS (
  SELECT p.cid, coalesce(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN
       (SELECT cid, list(cv ORDER BY dim) AS c FROM {p}s{it} GROUP BY cid) n
    ON p.cid = n.cid
)"""
        )
        prev = f"{p}c{it}"
    parts.append(
        f"""{p}df_ AS (
  SELECT v.{id_col} AS vid, p.cid,
         list_sum(list_transform(generate_series(1, len(v.e)),
                  i -> (v.e[i] - p.c[i]) * (v.e[i] - p.c[i]))) AS d
  FROM {p}v v, {prev} p
),
{p}af_ AS (
  SELECT vid, cid, d
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM {p}df_)
  WHERE rn = 1
)"""
    )
    return parts


def kmeans_lloyd_sql(
    table: str = "embeddings",
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """The identical Lloyd rounds unrolled as DuckDB CTEs (oracle twin)."""
    parts = _lloyd_cte_parts(table, k, iterations, vec_col, id_col)
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT CAST(cid AS INTEGER) AS cluster_id, count(*) AS n_vecs,
       round(CAST(sum(CAST(floor(d * 1000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
             / 1000000.0, 4) AS inertia
FROM af_ GROUP BY cid"""
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication = clustering + within-cluster pruning
# ---------------------------------------------------------------------------
#
# The SemDeDup recipe (Abbas et al. 2023) at engine level: k-means the
# embedding corpus, then look for near-duplicates ONLY within each
# cluster — the cluster assignment is the blocking key that turns the
# quadratic all-pairs search into sum-over-clusters O(n_c^2), exactly the
# role labels/LSH buckets play for block_near_dup_pairs.  Kept document =
# the lowest id of each duplicate group (any vector with a more-similar-
# than-threshold lower-id neighbor in its cluster is dropped).
#
# Scale: the clustering is the deterministic Lloyd loop above (1 shuffle
# per round, driver holds k x dim); the pruning inherits
# block_near_dup_pairs' bounded-memory chunked kernel; the drop census is
# one distinct + one broadcast join.  Cluster count k is the lever that
# bounds the per-cluster pair quadratic at 100 TB.


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Final per-vector cluster assignment after ``iterations`` Lloyd
    rounds: (id, cluster_id, vector) — the blocking frame semdedup and any
    cluster-routed downstream (IVF build, per-cluster sampling) start
    from."""
    valid = df.where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    cents = _lloyd_centroids(valid, k, iterations, vec_col, id_col)
    return _assign(valid, cents, vec_col).select(
        F.col(id_col), F.col("__cid").alias("cluster_id"), F.col(vec_col)
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster semantic-dedup report: ``cluster_id, n_vecs,
    n_dropped`` where dropped vectors have a >= ``threshold`` cosine
    neighbor with a smaller id in the same cluster."""
    from .similarity import block_near_dup_pairs

    assigned = materialized(
        kmeans_assignments(df, k, iterations, vec_col, id_col)
    )
    pairs = block_near_dup_pairs(
        assigned, "cluster_id", threshold, id_col=id_col, vec_col=vec_col
    )
    drops = (
        pairs.select(F.col(f"{id_col}_2").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        assigned.join(F.broadcast(drops), id_col, "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.coalesce(F.col("__dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({x})+1), "
    "i -> {x}[i] * {y}[i])), (a, b) -> a + b)"
)


def semdedup_sql(
    table: str = "embeddings",
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Oracle twin: Lloyd CTEs -> within-cluster pair scan -> drop census.
    (Vectors in ``v`` are already CAST to DOUBLE, so the dot fold needs no
    per-element cast — same sequential list_reduce as the similarity
    oracles.)"""
    parts = _lloyd_cte_parts(table, k, iterations, vec_col, id_col)
    dot12 = _DOT_SQL.format(x="e1.e", y="e2.e")
    n1 = _DOT_SQL.format(x="e1.e", y="e1.e")
    n2 = _DOT_SQL.format(x="e2.e", y="e2.e")
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
emb AS (
  SELECT a.vid, CAST(a.cid AS INTEGER) AS cluster_id, v.e
  FROM af_ a JOIN v ON v.{id_col} = a.vid
),
p AS (
  SELECT e1.vid AS v1, e2.vid AS v2
  FROM emb e1 JOIN emb e2
    ON e1.cluster_id = e2.cluster_id AND e1.vid < e2.vid
  WHERE {dot12} / (sqrt({n1}) * sqrt({n2})) >= {threshold}
),
d AS (SELECT DISTINCT v2 FROM p)
SELECT e.cluster_id, count(*) AS n_vecs,
       CAST(count(d.v2) AS BIGINT) AS n_dropped
FROM emb e LEFT JOIN d ON d.v2 = e.vid
GROUP BY e.cluster_id"""
    )


# ---------------------------------------------------------------------------
# Scatter matrix (unnormalized covariance) over a dimension slice.


def embedding_scatter(
    df: DataFrame,
    vec_col: str = "embedding",
    n_dims: int = 16,
    quant: int = 1000,
) -> DataFrame:
    """Scatter matrix of the first ``n_dims`` embedding dimensions: for each
    pair i <= j the exact integer ``scatter = n·Σxy − Σx·Σy`` (=: n² times
    the covariance) over values quantized at ``quant`` — the building block
    for PCA/whitening over an embedding corpus.

    Plan shape — the part that matters at 100 TB: the d·(d+1)/2 pair sums
    are ONE wide hash aggregate over per-row products (Catalyst folds all
    153 expressions into a single whole-stage-codegen pass), so the scan is
    read once, partials combine map-side, and exactly one 1-row state
    shuffles.  No explode, no self-join: the naive pairwise formulation
    shuffles d² copies of the table.  The stack() to long format runs on
    the single result row.

    Integer bounds: |q| <= quant/2 + |x|·quant; with unit-ish embeddings and
    quant=1e3, n·Σxy stays under 2^63 up to ~1e13 rows.  Past that, widen
    the sums to DECIMAL(38,0) (same plan shape, ~2x agg cost).
    """
    dims = range(n_dims)
    qcols = [
        F.floor(
            F.element_at(F.col(vec_col), d + 1).cast("double") * quant + F.lit(0.5)
        )
        .cast("long")
        .alias(f"q{d}")
        for d in dims
    ]
    base = df.select(*qcols)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(f"q{d}").alias(f"s{d}") for d in dims]
    aggs += [
        F.sum(F.col(f"q{i}") * F.col(f"q{j}")).alias(f"p{i}_{j}")
        for i in dims
        for j in dims
        if i <= j
    ]
    wide = base.agg(*aggs)
    pairs = [(i, j) for i in dims for j in dims if i <= j]
    stacked = ", ".join(
        f"{i}, {j}, s{i}, s{j}, p{i}_{j}" for (i, j) in pairs
    )
    long = wide.select(
        "n",
        F.expr(
            f"stack({len(pairs)}, {stacked}) AS (i, j, sx, sy, sxy)"
        ),
    )
    return long.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        "n",
        "sx",
        "sy",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("scatter"),
    )


def embedding_scatter_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    n_dims: int = 16,
    quant: int = 1000,
) -> str:
    """Oracle twin: identical wide aggregate, long format via UNION ALL over
    the one-row sum table (sums pass through HUGEINT, cast back to BIGINT
    per the no-HUGEINT rule)."""
    dims = range(n_dims)
    qs = ", ".join(
        f"CAST(floor(CAST({vec_col}[{d + 1}] AS DOUBLE) * {quant} + 0.5) "
        f"AS BIGINT) AS q{d}"
        for d in dims
    )
    sums = ", ".join(f"CAST(sum(q{d}) AS BIGINT) AS s{d}" for d in dims)
    prods = ", ".join(
        f"CAST(sum(q{i} * q{j}) AS BIGINT) AS p{i}_{j}"
        for i in dims
        for j in dims
        if i <= j
    )
    rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, n, s{i} AS sx, s{j} AS sy, "
        f"p{i}_{j} AS sxy FROM s"
        for i in dims
        for j in dims
        if i <= j
    )
    return f"""
WITH q AS (SELECT {qs} FROM {table}),
s AS (SELECT count(*) AS n, {sums}, {prods} FROM q)
SELECT i, j, n, sx, sy, sxy, n * sxy - sx * sy AS scatter
FROM ({rows}) pairs
"""


# ---------------------------------------------------------------------------
# Product quantization: per-subspace codebooks + packed codes.
# ---------------------------------------------------------------------------
#
# PQ (Jégou et al. 2011, public) — the compression layer of large-scale
# ANN: split each vector into m subspaces, k-means each subspace
# independently, store each vector as m small code ids.  Here the
# codebooks come from the SAME deterministic Lloyd loop as
# kmeans_embeddings (bit-identical across engines), so even the trained
# quantizer is SQL-oracle-checkable — the oracle instantiates the Lloyd
# CTE chain once per subspace via the ``prefix`` parameter.
#
# Scale: m Lloyd loops over dim/m-wide slices (each 1 shuffle/round,
# driver holds m * k x dim/m centroid doubles), then ONE assignment pass
# computing all m codes + reconstruction error per vector, one hash
# aggregate for the code census.  Codes compress dim*4 bytes to
# m*log2(k) bits — the 100 TB lever is doing ANN over codes (table
# lookups) instead of raw vectors.


def pq_train_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Train the m per-subspace codebooks and assign: returns (frame,
    cents) where frame carries ``id_col`` plus per-subspace ``__cid{s}``
    (code) and ``__d{s}`` (distance array) columns, and ``cents[s]`` is
    the k x sub_dim codebook — the shared core of the census and the ADC
    search."""
    valid = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= m * sub_dim)
    ).select(
        id_col,
        *[
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(f"__sub{s}")
            for s in range(m)
        ],
    )

    # seed all m codebooks from ONE pass (first k valid vectors by id,
    # sliced per subspace — identical to running Lloyd per subspace)
    seed_rows = (
        valid.orderBy(id_col)
        .limit(k)
        .select(
            *[
                F.transform(
                    F.col(f"__sub{s}"), lambda x: x.cast("double")
                ).alias(f"__sub{s}")
                for s in range(m)
            ]
        )
        .collect()
    )
    cents = [[list(r[f"__sub{s}"]) for r in seed_rows] for s in range(m)]
    kk = len(seed_rows)

    def with_assignments(frame):
        # single-parse SQL build (sqlexpr module docstring): identical
        # expressions to the DSL twin, ~2 ms instead of ~1 s per build
        for s in range(m):
            vec = sqlexpr.to_double_arr(f"`__sub{s}`")
            dists = (
                f"transform({sqlexpr.arr_arr_d(cents[s])}, "
                f"c -> {sqlexpr.sq_dist(vec, 'c')})"
            )
            frame = frame.withColumn(f"__d{s}", F.expr(dists)).withColumn(
                f"__cid{s}",
                F.expr(
                    f"CAST(array_position(`__d{s}`, array_min(`__d{s}`)) - 1 "
                    "AS INT)"
                ),
            )
        return frame

    # each iteration: ALL m subspace updates in ONE job — assignments are
    # per-row expressions, the flattened posexplode keys every element by
    # (subspace, its cid, sub-position), and a single hash aggregate
    # yields every codebook's quantized means (m*k*sub_dim rows collect —
    # metadata scale, the Lloyd barrier)
    cid_array = F.array(*[F.col(f"__cid{s}") for s in range(m)])
    for _ in range(iterations):
        flat = (
            with_assignments(valid)
            .select(
                cid_array.alias("__cids"),
                F.posexplode(
                    F.flatten(
                        F.array(*[F.col(f"__sub{s}") for s in range(m)])
                    )
                ).alias("__pos", "__val"),
            )
            .select(
                F.expr(f"CAST(__pos DIV {sub_dim} AS INT)").alias("__s"),
                F.expr(
                    f"element_at(__cids, CAST(__pos DIV {sub_dim} AS INT) + 1)"
                ).alias("__cid"),
                (F.col("__pos") % sub_dim).cast("int").alias("__sp"),
                "__val",
            )
            .groupBy("__s", "__cid", "__sp")
            .agg(
                F.sum(
                    F.floor(
                        F.col("__val").cast("double") * F.lit(Q) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).alias("__sum"),
                F.count(F.lit(1)).alias("__n"),
            )
        )
        new: dict[tuple[int, int], dict[int, float]] = {}
        # metadata-scale: m x k per-dim codebook sums
        for r in flat.collect():
            new.setdefault((r["__s"], r["__cid"]), {})[r["__sp"]] = (
                float(r["__sum"]) / r["__n"] / Q
            )
        for s in range(m):
            for c in range(kk):
                if (s, c) in new:
                    cents[s][c] = [new[(s, c)][i] for i in range(sub_dim)]

    return with_assignments(valid), cents


def pq_code_census(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """Train per-subspace codebooks, assign packed codes, return the code
    census: (code, n_vecs, err) with err the quantized reconstruction
    error sum (same 1e-6 fixed point as kmeans inertia)."""
    final, _cents = pq_train_assign(
        df, vec_col, id_col, m, k, sub_dim, iterations
    )
    code_expr = F.lit(0).cast("long")
    err_expr = F.lit(0.0)
    for s in range(m):
        code_expr = code_expr + F.col(f"__cid{s}").cast("long") * F.lit(
            k**s
        ).cast("long")
        err_expr = err_expr + F.element_at(
            F.col(f"__d{s}"), F.col(f"__cid{s}") + 1
        )
    coded = final.select(code_expr.alias("code"), err_expr.alias("__tot"))
    return coded.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(
                F.floor(F.col("__tot") * F.lit(QI) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.lit(QI),
            4,
        ).alias("err"),
    )


def pq_code_census_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> str:
    """Oracle twin: one prefixed Lloyd CTE chain per subspace, joined on
    the vector id; identical packing and fixed-point error census."""
    guarded = (
        f"(SELECT * FROM {table} WHERE {vec_col} IS NOT NULL "
        f"AND len({vec_col}) >= {m * sub_dim})"
    )
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded,
                k,
                iterations,
                f"{vec_col}[{lo}:{hi}]",
                id_col,
                prefix=f"q{s}",
            )
        )
    joins = " ".join(
        f"JOIN q{s}af_ q{s} ON q{s}.vid = q0.vid" for s in range(1, m)
    )
    code = " + ".join(f"CAST(q{s}.cid AS BIGINT) * {k**s}" for s in range(m))
    tot = " + ".join(f"q{s}.d" for s in range(m))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT {code} AS code, count(*) AS n_vecs,
       round(CAST(sum(CAST(floor(({tot}) * 1000000.0 + 0.5) AS HUGEINT))
                  AS DOUBLE) / 1000000.0, 4) AS err
FROM q0af_ q0 {joins}
GROUP BY 1"""
    )


def pq_ann_topk(
    df: DataFrame,
    query_id: int = 0,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: approximate neighbors of the
    ``query_id`` vector scored from CODES ONLY.  The query's distance to
    each of the m*k centroids is precomputed into lookup tables (driver-
    side, m*k doubles — the tables ARE the query plan), and each database
    vector's score is m table lookups summed — no per-row vector math at
    all.  This is the 100 TB read path PQ buys: the corpus is scanned as
    small integer codes, the float work is O(m*k) once per query.

    Distances use the same sequential fold as every similarity oracle, so
    the approximate result is still bit-checkable.  Returns
    (vec_id, adc_dist) ordered (dist, id), top ``topk``.
    """
    frame, cents = pq_train_assign(
        df, vec_col, id_col, m, k, sub_dim, iterations
    )
    # metadata-scale: exactly one query row (id equality)
    qrow = (
        df.where(F.col(id_col) == query_id)
        .select(
            *[
                F.transform(
                    F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim),
                    lambda x: x.cast("double"),
                ).alias(f"q{s}")
                for s in range(m)
            ]
        )
        .collect()[0]
    )
    luts = []
    for s in range(m):
        q = list(qrow[f"q{s}"])
        lut = []
        for c in cents[s]:
            acc = 0.0
            for a, b in zip(q, c):  # sequential fold, oracle-identical
                acc = acc + (a - b) * (a - b)
            lut.append(acc)
        luts.append(lut)
    dist = _adc_expr(luts, m, cid_col="__cid{s}")
    return (
        frame.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(topk)
    )


def pq_ann_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> str:
    """Oracle twin: per-subspace prefixed Lloyd chains give codes AND
    final centroids; the ADC score is the query-slice-to-centroid fold
    summed across subspaces."""
    guarded = (
        f"(SELECT * FROM {table} WHERE {vec_col} IS NOT NULL "
        f"AND len({vec_col}) >= {m * sub_dim})"
    )
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded,
                k,
                iterations,
                f"{vec_col}[{lo}:{hi}]",
                id_col,
                prefix=f"q{s}",
            )
        )
    qsubs = ", ".join(
        f"list_transform({vec_col}[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"x -> CAST(x AS DOUBLE)) AS qs{s}"
        for s in range(m)
    )
    parts.append(
        f"qv AS (SELECT {qsubs} FROM {table} WHERE {id_col} = {query_id})"
    )
    joins = " ".join(
        f"JOIN q{s}af_ q{s} ON q{s}.vid = q0.vid" for s in range(1, m)
    )
    cjoins = " ".join(
        f"JOIN q{s}c{iterations} cc{s} ON cc{s}.cid = q{s}.cid"
        for s in range(m)
    )
    dist = " + ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (qv.qs{s}[i] - cc{s}.c[i]) * (qv.qs{s}[i] - cc{s}.c[i])))"
        for s in range(m)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT q0.vid AS {id_col}, {dist} AS adc_dist
FROM q0af_ q0 {joins} {cjoins} CROSS JOIN qv
ORDER BY adc_dist, q0.vid
LIMIT {topk}"""
    )


def ivf_pq_ann(
    df: DataFrame,
    query_id: int = 0,
    topk: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """The COMPOSED two-stage ANN read path — IVF coarse pruning + PQ
    asymmetric-distance ranking, i.e. the architecture (FAISS IVFPQ
    shape) a 100 TB vector search actually runs:

      1. a coarse quantizer assigns every vector to its nearest of
         ``n_cells`` cells (training-free deterministic centroids: the
         first ``n_cells`` vectors by id, as in ``ivf_ann_topk``);
      2. the query probes only its ``n_probe`` closest cells — the scan
         prunes to a cell fraction BEFORE any scoring;
      3. survivors rank by PQ ADC: m integer code lookups into the
         query's precomputed m*k LUT — no per-row float vector math.

    Distance discipline: every squared-L2 is the per-subspace sequential
    fold SUMMED across subspaces in subspace order (NOT one 64-dim fold —
    the two differ in low-order bits), and the identical decomposition is
    used by the Spark expressions, the driver-side probe arithmetic, and
    the SQL oracle, so even this doubly-approximate result hash-checks.
    Assignment ties break to the smallest cell id on both engines
    (first-min index here, (dist, cell) row_number in SQL).

    Scale shape: the quantizer, probe list and LUTs are all metadata
    (collect of n_cells rows + one query row); the corpus-side work is
    one narrow expression pass — cell assignment + probe filter + ADC —
    with TakeOrdered top-k; no shuffle before the final cut.
    """
    frame, cents = pq_train_assign(
        df, vec_col, id_col, m, k, sub_dim, iterations
    )
    cell_ids, cvecs = _coarse_centroids(
        df, n_cells, vec_col, id_col, m, sub_dim
    )
    qv = _query_vector(df, query_id, vec_col, id_col, m, sub_dim)
    probe_ids = _probe_cells(qv, cell_ids, cvecs, n_probe, m, sub_dim)
    cell = _cell_assign_expr(cell_ids, cvecs, m, sub_dim)
    luts = _adc_luts(qv, cents, m, sub_dim)
    adc = _adc_expr(luts, m, cid_col="__cid{s}")
    return (
        frame.withColumn("cell", cell)
        .where(F.col("cell").isin(*probe_ids))
        .select(F.col(id_col), "cell", adc.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(topk)
    )


# --- shared IVF-PQ math (inline path AND the artifact read path) ----------
# Every helper preserves the distance discipline documented on ivf_pq_ann:
# per-subspace sequential folds summed in subspace order, on the driver and
# in Catalyst expressions alike, so train-then-serve and load-then-serve
# are bit-identical.


def _subspace_sq(a: list[float], b: list[float], s: int, sub_dim: int) -> float:
    acc = 0.0
    for i in range(s * sub_dim, (s + 1) * sub_dim):
        acc = acc + (a[i] - b[i]) * (a[i] - b[i])
    return acc


def _full_dist(a: list[float], b: list[float], m: int, sub_dim: int) -> float:
    d = _subspace_sq(a, b, 0, sub_dim)
    for s in range(1, m):
        d = d + _subspace_sq(a, b, s, sub_dim)
    return d


def _coarse_centroids(df, n_cells, vec_col, id_col, m, sub_dim):
    guarded = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= m * sub_dim)
    )
    # metadata-scale: n_cells seed rows by construction
    crows = (
        guarded.where(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if not crows:
        raise ValueError(
            f"ivf_pq_ann: no centroid rows with {id_col} < {n_cells}"
        )
    return [int(r[0]) for r in crows], [[float(x) for x in r[1]] for r in crows]


def _query_vector(df, query_id, vec_col, id_col, m, sub_dim):
    # metadata-scale: exactly one query row (id equality)
    qrow = (
        df.where(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) >= m * sub_dim)
        )
        .where(F.col(id_col) == query_id)
        .select(vec_col)
        .collect()
    )
    if not qrow:
        raise ValueError(f"ivf_pq_ann: query id {query_id} not found")
    return [float(x) for x in qrow[0][0]]


def _query_vectors(df, n_queries, vec_col, id_col, m, sub_dim):
    """Batch twin of :func:`_query_vector`: ONE collect for the whole
    query set (ids below ``n_queries``), not one round trip per query.
    Bounded by contract (VERDICT r10 ask #5): the set ships to every
    task as probe frames, so past the declared bound this raises a
    typed error instead of OOMing the driver."""
    from .driverside import collect_bounded

    rows = collect_bounded(
        df.where(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) >= m * sub_dim)
        )
        .where(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .orderBy(id_col),
        what="ANN serve-batch query set",
    )
    if not rows:
        raise ValueError(f"ivf_pq_serve_batch: no query ids < {n_queries}")
    return [(r[0], [float(x) for x in r[1]]) for r in rows]


def _probe_cells(qv, cell_ids, cvecs, n_probe, m, sub_dim):
    probe = sorted(
        (_full_dist(qv, cv, m, sub_dim), cid)
        for cv, cid in zip(cvecs, cell_ids)
    )[:n_probe]
    return [cid for _, cid in probe]


def _cell_assign_expr(cell_ids, cvecs, m, sub_dim):
    """Corpus-side coarse assignment over the __sub{s} slice columns:
    same per-subspace fold, as Catalyst expressions.

    Rendered as ONE SQL string (sqlexpr module docstring): the DSL twin of
    this n_cells x m fold forest cost ~1.5 s of py4j construction per
    build; the string parses in ~2 ms and produces the identical values —
    per-subspace left folds summed left-associatively per cell, argmin by
    first position.

    The per-cell distances are VECTORIZED over cells — one ``transform``
    over the literal array of all n_cells subspace slices per subspace,
    then elementwise ``zip_with`` sums — instead of one fold forest per
    cell.  Identical arithmetic (each element evaluates the same fold, the
    zip_with chain adds in the same ds0+ds1+ds2+ds3 order) at ~1/n_cells
    the expression-tree size, which matters because streaming twins
    re-analyze this tree every microbatch (parity asserted on the full
    fixture by tests/test_sqlexpr_parity.py).

    The distance array is bound ONCE, as the lambda variable of a
    one-element ``transform``, and the argmin reads it twice: spelled
    inline for both ``array_position`` and ``array_min``, the tree was
    twice the size at analysis and every row evaluated it twice (Catalyst
    does not share subexpressions that hold lambda variables)."""
    per_sub = []
    for s in range(m):
        slices = sqlexpr.arr_arr_d(
            [cv[s * sub_dim:(s + 1) * sub_dim] for cv in cvecs]
        )
        sub = sqlexpr.to_double_arr(f"`__sub{s}`")
        per_sub.append(f"transform({slices}, c -> {sqlexpr.sq_dist(sub, 'c')})")
    darr = per_sub[0]
    for s in range(1, m):
        darr = f"zip_with({darr}, {per_sub[s]}, (p, q) -> p + q)"
    return F.expr(
        f"element_at(transform(array({darr}), d -> "
        f"element_at({sqlexpr.arr_l(cell_ids)}, "
        f"CAST(array_position(d, array_min(d)) - 1 AS INT) + 1)), 1)"
    )


def _adc_luts(qv, cents, m, sub_dim):
    """The query's ADC lookup tables (driver-side, m*k doubles)."""
    luts = []
    for s in range(m):
        q = qv[s * sub_dim:(s + 1) * sub_dim]
        lut = []
        for c in cents[s]:
            acc = 0.0
            for a, b in zip(q, c):
                acc = acc + (a - b) * (a - b)
            lut.append(acc)
        luts.append(lut)
    return luts


def _adc_expr(luts, m, cid_col: str = "cid{s}"):
    # single-parse SQL build: identical left-associative sum from 0.0D
    return F.expr(
        "0.0D + "
        + " + ".join(
            f"element_at({sqlexpr.arr_d(luts[s])}, "
            f"`{cid_col.format(s=s)}` + 1)"
            for s in range(m)
        )
    )


def ivf_pq_build(
    df: DataFrame,
    store: str,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
    meta_cols: tuple[str, ...] = (),
    codes_name: str = "ivfpq_codes",
) -> None:
    """BUILD the IVF-PQ index once and persist it (VERDICT r06 ask #2 —
    the reference's initialize-time build-once contract, DMP:106-135,
    applied to trained structures): train the PQ codebooks, code every
    corpus vector, coarse-assign it to its IVF cell, and save THREE
    artifacts —

      ``ivfpq_codes``      (vec_id, cell, cid0..cid{m-1})  corpus-scale
      ``ivf_centroids``    (cell_id, vec)                  n_cells rows
      ``pq_codebooks``     (s, cid, vec)                   m*k rows

    The codes table IS the index: at 100 TB the read path scans small
    integers (m bytes/vector here vs 4*dim floats), never the float
    corpus.  Training cost is paid exactly once per corpus version.
    """
    from ..sinks.artifacts import (
        save_artifact,
        save_coarse_centroids,
        save_pq_codebooks,
    )

    frame, cents = pq_train_assign(
        df, vec_col, id_col, m, k, sub_dim, iterations
    )
    cell_ids, cvecs = _coarse_centroids(
        df, n_cells, vec_col, id_col, m, sub_dim
    )
    cell = _cell_assign_expr(cell_ids, cvecs, m, sub_dim)
    codes = frame.withColumn("cell", cell).select(
        F.col(id_col),
        "cell",
        *[F.col(f"__cid{s}").alias(f"cid{s}") for s in range(m)],
    )
    if meta_cols:
        # attribute-payload index (filtered/hybrid search): metadata
        # columns ride IN the codes table so a serve-time predicate
        # pushes down into the index scan itself — one build-time join,
        # zero serve-time joins
        codes = codes.join(
            df.select(id_col, *meta_cols), id_col
        )
    # Commit order matters (ADVICE r07): serve paths gate the rebuild on
    # the codes artifact, so it must be the LAST artifact to commit — a
    # build that dies mid-save then leaves the gate open and the next
    # call retrains instead of crashing in load_pq_codebooks on a
    # half-built store.
    save_coarse_centroids(frame.sparkSession, store, cell_ids, cvecs)
    save_pq_codebooks(frame.sparkSession, store, cents)
    save_artifact(codes, store, codes_name)


def pq_encode_frame(
    df: DataFrame,
    cents: list[list[list[float]]],
    cell_ids: list[int],
    cvecs: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
) -> DataFrame:
    """ENCODE a frame with an EXISTING quantizer (VERDICT r07 ask #8 —
    the live-ingest coding step): per-subspace nearest-codebook-centroid
    codes plus the coarse IVF cell, all as Catalyst expressions over the
    driver-held codebooks/centroids (the same argmin tie-break — lowest
    cid on equal distance — as training's with_assignments, so coding new
    rows with a saved quantizer is bit-identical to what training would
    have assigned them).  No Python rows, no shuffle: one narrow
    projection over the input."""
    valid = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= m * sub_dim)
    ).select(
        id_col,
        *[
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                f"__sub{s}"
            )
            for s in range(m)
        ],
    )
    for s in range(m):
        # single-parse SQL build (sqlexpr module docstring)
        vec = sqlexpr.to_double_arr(f"`__sub{s}`")
        dists = (
            f"transform({sqlexpr.arr_arr_d(cents[s])}, "
            f"c -> {sqlexpr.sq_dist(vec, 'c')})"
        )
        valid = valid.withColumn(f"__d{s}", F.expr(dists)).withColumn(
            f"__cid{s}",
            F.expr(
                f"CAST(array_position(`__d{s}`, array_min(`__d{s}`)) - 1 "
                "AS INT)"
            ),
        )
    cell = _cell_assign_expr(cell_ids, cvecs, m, sub_dim)
    return valid.withColumn("cell", cell).select(
        F.col(id_col),
        "cell",
        *[F.col(f"__cid{s}").alias(f"cid{s}") for s in range(m)],
    )


def ivf_pq_serve(
    spark: SparkSession,
    store: str,
    query_vec: list[float],
    topk: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
) -> DataFrame:
    """SERVE from the saved index: load centroids + codebooks (metadata
    collects), pick the ``n_probe`` closest cells, build the query's ADC
    LUTs, and rank the probed cells' CODES — scan + m lookups + top-k, no
    training, no float corpus.  Because every loaded double round-trips
    parquet bit-exactly and the math helpers are shared with
    ``ivf_pq_ann``, load-then-serve hash-equals train-then-serve."""
    from ..sinks.artifacts import (
        load_artifact,
        load_coarse_centroids,
        load_pq_codebooks,
    )

    cents = load_pq_codebooks(spark, store)
    cell_ids, cvecs = load_coarse_centroids(spark, store)
    probe_ids = _probe_cells(query_vec, cell_ids, cvecs, n_probe, m, sub_dim)
    luts = _adc_luts(query_vec, cents, m, sub_dim)
    adc = _adc_expr(luts, m, cid_col="cid{s}")
    codes = load_artifact(spark, store, "ivfpq_codes")
    return (
        codes.where(F.col("cell").isin(*probe_ids))
        .select(F.col(id_col), "cell", adc.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(topk)
    )


def ivf_pq_serve_batch(
    spark: SparkSession,
    store: str,
    queries: list[tuple[object, list[float]]],
    topk: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
    codes_name: str = "ivfpq_codes",
    centroids_name: str = "ivf_centroids",
    codebooks_name: str = "pq_codebooks",
) -> DataFrame:
    """SERVE a query SET from the saved index (VERDICT r07 ask #3 — the
    thousand-queries-one-index shape the artifact store exists for): ONE
    scan of the integer codes table regardless of query count.  The
    ``*_name`` parameters point the serve at any artifact triple with
    the shared layout — e.g. the streaming-maintained ``sidx_*`` index
    (stream_index_search, VERDICT r08 ask #6).

    Driver side (metadata-scale, like the single-query path): per query,
    the ``n_probe`` closest cells and the m ADC lookup tables — |Q| x
    n_probe rows of (query_id, cell, lut0..lut{m-1}) that BROADCAST into
    the codes join.  Executor side, pure Catalyst: an equality join on
    ``cell`` (each codes row meets only the queries probing its cell, so
    the join output is bounded by codes x queries-per-cell, never
    |Q| x corpus), the same element_at ADC fold as ``_adc_expr`` with the
    LUT riding as a column, and a per-query top-k window with the single-
    query path's exact total order (adc_dist, id) — so each query's rows
    hash-equal what :func:`ivf_pq_serve` returns for it alone (pinned by
    test).

    Output: (query_id, id, cell, adc_dist, rn), rn = 1..topk per query.
    """
    from ..sinks.artifacts import (
        load_artifact,
        load_coarse_centroids,
        load_pq_codebooks,
    )

    # validate BEFORE any schema inference (ADVICE r08 #5): an empty query
    # set raised IndexError at queries[0], a bool qid is an int subclass
    # and mapped to 'long', and mixed int/str ids built a schema that only
    # failed later inside createDataFrame.
    if not queries:
        raise ValueError("ivf_pq_serve_batch: queries must be non-empty")
    qid_types = {type(q[0]) for q in queries}
    if not (qid_types <= {int} or qid_types <= {str}):
        raise TypeError(
            "ivf_pq_serve_batch: query ids must be all int or all str, "
            f"got {sorted(t.__name__ for t in qid_types)}"
        )
    qid_type = "long" if qid_types <= {int} else "string"

    cents = load_pq_codebooks(spark, store, name=codebooks_name)
    cell_ids, cvecs = load_coarse_centroids(spark, store, name=centroids_name)
    codes = load_artifact(spark, store, codes_name)
    return ivf_pq_adc_batch(
        spark, codes, cents, cell_ids, cvecs, queries,
        topk=topk, n_probe=n_probe, id_col=id_col, m=m, sub_dim=sub_dim,
        qid_type=qid_type,
    )


def ivf_pq_adc_batch(
    spark: SparkSession,
    codes: DataFrame,
    cents: list[list[list[float]]],
    cell_ids: list[int],
    cvecs: list[list[float]],
    queries: list[tuple[object, list[float]]],
    topk: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
    qid_type: str = "long",
) -> DataFrame:
    """The executor-side core of :func:`ivf_pq_serve_batch` over an
    ALREADY-LOADED codes frame and driver-held quantizer — lets callers
    that maintain the index themselves (the streaming index's merged
    base∪arrival frame, stream_index_search) reuse the exact serve plan:
    broadcast (query, cell, LUT) probe frame, one codes scan, element_at
    ADC fold, per-query top-k window."""
    from pyspark.sql import Row, Window

    probe_rows = []
    for qid, qv in queries:
        qv = [float(x) for x in qv]
        luts = _adc_luts(qv, cents, m, sub_dim)
        for cell in _probe_cells(qv, cell_ids, cvecs, n_probe, m, sub_dim):
            probe_rows.append(
                Row(
                    query_id=qid,
                    cell=int(cell),
                    **{f"__lut{s}": luts[s] for s in range(m)},
                )
            )
    qdf = spark.createDataFrame(
        probe_rows,
        f"query_id {qid_type}, cell long, "
        + ", ".join(f"__lut{s} array<double>" for s in range(m)),
    )
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(F.col(f"__lut{s}"), F.col(f"cid{s}") + 1)
    w = Window.partitionBy("query_id").orderBy("adc_dist", id_col)
    return (
        codes.join(F.broadcast(qdf), "cell")
        .select("query_id", F.col(id_col), "cell", adc.alias("adc_dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
    )


def ivf_pq_ann_sql(
    table: str = "embeddings",
    query_id: int = 0,
    topk: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> str:
    """Oracle twin of :func:`ivf_pq_ann`: the PQ Lloyd CTE chains give
    codes + codebooks; coarse assignment and the probe list use the SAME
    per-subspace-fold-summed distance; ADC is the query-slice fold per
    codebook centroid."""
    guarded = (
        f"(SELECT * FROM {table} WHERE {vec_col} IS NOT NULL "
        f"AND len({vec_col}) >= {m * sub_dim})"
    )
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded, k, iterations, f"{vec_col}[{lo}:{hi}]", id_col,
                prefix=f"q{s}",
            )
        )
    qsubs = ", ".join(
        f"list_transform({vec_col}[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"x -> CAST(x AS DOUBLE)) AS qs{s}"
        for s in range(m)
    )
    parts.append(
        f"qv AS (SELECT {qsubs} FROM {guarded} g WHERE g.{id_col} = {query_id})"
    )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vjoins = " ".join(
        f"JOIN q{s}v v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM q0v v0 {vjoins} CROSS JOIN cents c
)"""
    )
    parts.append(
        """vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
)"""
    )
    qdist = " + ".join(sub_fold(f"qv.qs{s}", "c.cv", s) for s in range(m))
    parts.append(
        f"""probe AS (
  SELECT cell FROM (
    SELECT c.cell, {qdist} AS dist FROM cents c CROSS JOIN qv
  ) p ORDER BY dist, cell LIMIT {n_probe}
)"""
    )
    joins = " ".join(
        f"JOIN q{s}af_ q{s} ON q{s}.vid = q0.vid" for s in range(1, m)
    )
    cjoins = " ".join(
        f"JOIN q{s}c{iterations} cc{s} ON cc{s}.cid = q{s}.cid"
        for s in range(m)
    )
    adc = " + ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (qv.qs{s}[i] - cc{s}.c[i]) * (qv.qs{s}[i] - cc{s}.c[i])))"
        for s in range(m)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT q0.vid AS {id_col}, vass.cell, {adc} AS adc_dist
FROM q0af_ q0 {joins} {cjoins} CROSS JOIN qv
JOIN vass ON vass.vid = q0.vid
JOIN probe ON probe.cell = vass.cell
ORDER BY adc_dist, q0.vid
LIMIT {topk}"""
    )


def ivf_pq_ann_batch_sql(
    table: str = "embeddings",
    n_queries: int = 8,
    topk: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
    corpus_where: str | None = None,
) -> str:
    """Oracle twin of :func:`ivf_pq_serve_batch` (VERDICT r07 ask #3):
    :func:`ivf_pq_ann_sql` generalized from one hardcoded query id to the
    query set ``{id_col} < n_queries`` — the probe list and the final
    top-k become per-query row_number windows with the single-query
    version's exact total orders ((dist, cell) and (adc_dist, id)), so
    each query's rows hash-equal its single-query oracle.

    ``corpus_where`` restricts the CANDIDATE side (filtered/hybrid
    vector search, ann_filtered_batch): the predicate is applied to the
    scored rows before the per-query window, exactly where the Spark
    side applies its pushed-down codes-scan filter — probe lists and the
    quantizer are unchanged."""
    guarded = (
        f"(SELECT * FROM {table} WHERE {vec_col} IS NOT NULL "
        f"AND len({vec_col}) >= {m * sub_dim})"
    )
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded, k, iterations, f"{vec_col}[{lo}:{hi}]", id_col,
                prefix=f"q{s}",
            )
        )
    qsubs = ", ".join(
        f"list_transform({vec_col}[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"x -> CAST(x AS DOUBLE)) AS qs{s}"
        for s in range(m)
    )
    parts.append(
        f"qv AS (SELECT g.{id_col} AS query_id, {qsubs} FROM {guarded} g "
        f"WHERE g.{id_col} < {n_queries})"
    )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vjoins = " ".join(
        f"JOIN q{s}v v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM q0v v0 {vjoins} CROSS JOIN cents c
)"""
    )
    parts.append(
        """vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
)"""
    )
    qdist = " + ".join(sub_fold(f"qv.qs{s}", "c.cv", s) for s in range(m))
    parts.append(
        f"""probe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM (SELECT qv.query_id, c.cell, {qdist} AS dist
          FROM cents c CROSS JOIN qv) d
  ) p WHERE rn <= {n_probe}
)"""
    )
    joins = " ".join(
        f"JOIN q{s}af_ q{s} ON q{s}.vid = q0.vid" for s in range(1, m)
    )
    cjoins = " ".join(
        f"JOIN q{s}c{iterations} cc{s} ON cc{s}.cid = q{s}.cid"
        for s in range(m)
    )
    adc = " + ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (qv.qs{s}[i] - cc{s}.c[i]) * (qv.qs{s}[i] - cc{s}.c[i])))"
        for s in range(m)
    )
    flt_join = (
        f"\n  JOIN (SELECT {id_col} AS __fid FROM {table} "
        f"WHERE {corpus_where}) flt ON flt.__fid = q0.vid"
        if corpus_where
        else ""
    )
    parts.append(
        f"""scored AS (
  SELECT qv.query_id, q0.vid, vass.cell, {adc} AS adc_dist
  FROM q0af_ q0 {joins} {cjoins} CROSS JOIN qv
  JOIN vass ON vass.vid = q0.vid
  JOIN probe ON probe.query_id = qv.query_id AND probe.cell = vass.cell{flt_join}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, vid AS {id_col}, cell, adc_dist, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist, vid) AS rn
  FROM scored) r
WHERE rn <= {topk}"""
    )


def ivf_pq_probe_curve_sql(
    table: str = "embeddings",
    n_queries: int = 4,
    topk: int = 10,
    n_cells: int = 8,
    probes: tuple[int, ...] = (1, 2, 4, 8),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> str:
    """Oracle twin of the n_probe TUNING CURVE: one shared train/assign
    stack (the batch oracle's CTEs), the probe list ranked WITHOUT a
    threshold (``prank``), then every probe budget in ``probes``
    evaluated from the same scored frame by thresholding the cell rank —
    per budget: hits against the exact top-k (computed from the SAME
    per-subspace distance folds, so both engines sum subspaces in the
    same order), mean recall in exact ppm, and the candidate volume the
    budget scans (the cost side of the curve)."""
    guarded = (
        f"(SELECT * FROM {table} WHERE {vec_col} IS NOT NULL "
        f"AND len({vec_col}) >= {m * sub_dim})"
    )
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded, k, iterations, f"{vec_col}[{lo}:{hi}]", id_col,
                prefix=f"q{s}",
            )
        )
    qsubs = ", ".join(
        f"list_transform({vec_col}[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"x -> CAST(x AS DOUBLE)) AS qs{s}"
        for s in range(m)
    )
    parts.append(
        f"qv AS (SELECT g.{id_col} AS query_id, {qsubs} FROM {guarded} g "
        f"WHERE g.{id_col} < {n_queries})"
    )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vjoins = " ".join(
        f"JOIN q{s}v v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM q0v v0 {vjoins} CROSS JOIN cents c
),
vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
)"""
    )
    qdist = " + ".join(sub_fold(f"qv.qs{s}", "c.cv", s) for s in range(m))
    parts.append(
        f"""prank AS (
  SELECT query_id, cell,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, cell)
           AS crank
  FROM (SELECT qv.query_id, c.cell, {qdist} AS dist
        FROM cents c CROSS JOIN qv) d
)"""
    )
    joins = " ".join(
        f"JOIN q{s}af_ q{s} ON q{s}.vid = q0.vid" for s in range(1, m)
    )
    cjoins = " ".join(
        f"JOIN q{s}c{iterations} cc{s} ON cc{s}.cid = q{s}.cid"
        for s in range(m)
    )
    adc = " + ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (qv.qs{s}[i] - cc{s}.c[i]) * (qv.qs{s}[i] - cc{s}.c[i])))"
        for s in range(m)
    )
    parts.append(
        f"""scoredall AS (
  SELECT qv.query_id, q0.vid, prank.crank, {adc} AS adc_dist
  FROM q0af_ q0 {joins} {cjoins} CROSS JOIN qv
  JOIN vass ON vass.vid = q0.vid
  JOIN prank ON prank.query_id = qv.query_id AND prank.cell = vass.cell
)"""
    )
    # exact leg from the SAME per-subspace folds (subspace-sum order on
    # both engines); the query side is already sliced, so the fold is
    # built directly rather than through sub_fold's offset indexing
    edist = " + ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (v{s}.e[i] - qv.qs{s}[i]) * (v{s}.e[i] - qv.qs{s}[i])))"
        for s in range(m)
    )
    parts.append(
        f"""exact AS (
  SELECT query_id, vid FROM (
    SELECT qv.query_id, v0.{id_col} AS vid, {edist} AS d,
           row_number() OVER (PARTITION BY qv.query_id
                              ORDER BY {edist}, v0.{id_col}) AS rn
    FROM q0v v0 {vjoins} CROSS JOIN qv) r
  WHERE rn <= {topk}
),
ps AS (SELECT unnest([{", ".join(str(p) for p in probes)}]) AS p),
appr AS (
  SELECT ps.p, s.query_id, s.vid,
         row_number() OVER (PARTITION BY ps.p, s.query_id
                            ORDER BY s.adc_dist, s.vid) AS rn
  FROM scoredall s JOIN ps ON s.crank <= ps.p
),
cand AS (
  SELECT ps.p, CAST(count(*) AS BIGINT) AS n_candidates
  FROM scoredall s JOIN ps ON s.crank <= ps.p GROUP BY ps.p
),
hits AS (
  SELECT a.p, CAST(count(*) AS BIGINT) AS n_hits
  FROM appr a JOIN exact e ON a.query_id = e.query_id AND a.vid = e.vid
  WHERE a.rn <= {topk}
  GROUP BY a.p
)"""
    )
    denom = n_queries * topk
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(ps.p AS BIGINT) AS n_probe,
       coalesce(h.n_hits, 0) AS n_hits,
       CAST(1000000 * coalesce(h.n_hits, 0) // {denom} AS BIGINT)
         AS mean_recall_ppm,
       c.n_candidates
FROM ps LEFT JOIN hits h ON h.p = ps.p JOIN cand c ON c.p = ps.p"""
    )


def pq_codes_trained_on_sql(
    table: str = "embeddings",
    train_where: str = "vec_id % 10 <> 0",
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> str:
    """Oracle twin of the live index-maintenance contract
    (:func:`streaming_index_update` / VERDICT r07 ask #8): train the
    quantizer on the ``train_where`` subset (the base corpus), CODE every
    row of the full table with it — the Lloyd CTE chains run over the
    training predicate, fresh per-subspace assignment CTEs rank ALL rows
    against the trained codebooks with the same (distance, cid)
    tie-break, and coarse cells come from the base-seeded centroids."""
    g = (
        f"{vec_col} IS NOT NULL AND len({vec_col}) >= {m * sub_dim}"
    )
    guarded_all = f"(SELECT * FROM {table} WHERE {g})"
    guarded_train = f"(SELECT * FROM {table} WHERE ({train_where}) AND {g})"
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded_train, k, iterations,
                f"{vec_col}[{lo}:{hi}]", id_col, prefix=f"q{s}",
            )
        )
    # code ALL rows against the trained codebooks, per subspace
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f"""fa{s} AS (
  SELECT {id_col},
         list_transform({vec_col}[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS e
  FROM {guarded_all} g
),
fd{s} AS (
  SELECT v.{id_col} AS vid, p.cid,
         list_sum(list_transform(generate_series(1, {sub_dim}),
                  i -> (v.e[i] - p.c[i]) * (v.e[i] - p.c[i]))) AS d
  FROM fa{s} v, q{s}c{iterations} p
),
fc{s} AS (
  SELECT vid, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM fd{s})
  WHERE rn = 1
)"""
        )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded_train} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    vjoins = " ".join(
        f"JOIN fa{s} v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM fa0 v0 {vjoins} CROSS JOIN cents c
),
vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
)"""
    )
    cjoins = " ".join(
        f"JOIN fc{s} c{s} ON c{s}.vid = fc0.vid" for s in range(1, m)
    )
    cid_cols = ", ".join(
        f"CAST({'fc0' if s == 0 else f'c{s}'}.cid AS INTEGER) AS cid{s}"
        for s in range(m)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT fc0.vid AS {id_col}, vass.cell, {cid_cols}
FROM fc0 {cjoins} JOIN vass ON vass.vid = fc0.vid"""
    )


def ivf_pq_batch_trained_on_sql(
    table: str = "embeddings",
    train_where: str = "vec_id % 10 <> 0",
    n_queries: int = 4,
    topk: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
    serve_where: str | None = None,
) -> str:
    """Oracle twin of the live-ingest -> batched-serve composition
    (stream_index_search, VERDICT r08 ask #6): the batched ADC search of
    :func:`ivf_pq_ann_batch_sql` run over an index whose quantizer
    trained ONLY on the ``train_where`` subset while every row of the
    table is coded and searchable — i.e. the contract the streaming
    index maintains (train on base, code the union) carried through to
    the read path.  Train/code CTEs are those of
    :func:`pq_codes_trained_on_sql`; probe lists and the final top-k are
    the batch version's per-query windows with the same total orders.

    ``serve_where`` (round 10 — stream_index_delete's oracle leg)
    filters the CODED rows before ranking: a predicate over the scored
    CTE's scope (qualify the id as ``fc0.vid``), modelling a serve view
    that excludes rows — the tombstone anti-join — while train, code,
    and query CTEs see the full table.  Deleted ids can therefore never
    rank, and survivors below them move up, exactly the anti-join's
    semantics.  None (the default) leaves the SQL text unchanged."""
    g = f"{vec_col} IS NOT NULL AND len({vec_col}) >= {m * sub_dim}"
    guarded_all = f"(SELECT * FROM {table} WHERE {g})"
    guarded_train = f"(SELECT * FROM {table} WHERE ({train_where}) AND {g})"
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded_train, k, iterations,
                f"{vec_col}[{lo}:{hi}]", id_col, prefix=f"q{s}",
            )
        )
    # code ALL rows against the base-trained codebooks, per subspace
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f"""fa{s} AS (
  SELECT {id_col},
         list_transform({vec_col}[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS e
  FROM {guarded_all} g
),
fd{s} AS (
  SELECT v.{id_col} AS vid, p.cid,
         list_sum(list_transform(generate_series(1, {sub_dim}),
                  i -> (v.e[i] - p.c[i]) * (v.e[i] - p.c[i]))) AS d
  FROM fa{s} v, q{s}c{iterations} p
),
fc{s} AS (
  SELECT vid, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
        FROM fd{s})
  WHERE rn = 1
)"""
        )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded_train} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    vjoins = " ".join(
        f"JOIN fa{s} v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM fa0 v0 {vjoins} CROSS JOIN cents c
),
vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
)"""
    )
    qsubs = ", ".join(
        f"list_transform({vec_col}[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"x -> CAST(x AS DOUBLE)) AS qs{s}"
        for s in range(m)
    )
    parts.append(
        f"qv AS (SELECT g.{id_col} AS query_id, {qsubs} FROM {guarded_all} g "
        f"WHERE g.{id_col} < {n_queries})"
    )
    qdist = " + ".join(sub_fold(f"qv.qs{s}", "c.cv", s) for s in range(m))
    parts.append(
        f"""probe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM (SELECT qv.query_id, c.cell, {qdist} AS dist
          FROM cents c CROSS JOIN qv) d
  ) p WHERE rn <= {n_probe}
)"""
    )
    cjoins = " ".join(
        f"JOIN fc{s} c{s} ON c{s}.vid = fc0.vid" for s in range(1, m)
    )
    ccjoins = " ".join(
        f"JOIN q{s}c{iterations} cc{s} ON cc{s}.cid = "
        f"{'fc0' if s == 0 else f'c{s}'}.cid"
        for s in range(m)
    )
    adc = " + ".join(
        f"list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (qv.qs{s}[i] - cc{s}.c[i]) * (qv.qs{s}[i] - cc{s}.c[i])))"
        for s in range(m)
    )
    guard = f"\n  WHERE ({serve_where})" if serve_where else ""
    parts.append(
        f"""scored AS (
  SELECT qv.query_id, fc0.vid, vass.cell, {adc} AS adc_dist
  FROM fc0 {cjoins} {ccjoins} CROSS JOIN qv
  JOIN vass ON vass.vid = fc0.vid
  JOIN probe ON probe.query_id = qv.query_id AND probe.cell = vass.cell{guard}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, vid AS {id_col}, cell, adc_dist, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist, vid) AS rn
  FROM scored) r
WHERE rn <= {topk}"""
    )


def coarse_cell_drift(
    df: DataFrame,
    base_where,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
) -> DataFrame:
    """INDEX-STALENESS gauge — the data-driven retrain trigger beside the
    artifact store's corpus-version trigger (the content token answers
    "did the corpus CHANGE", this answers "did it change ENOUGH to hurt
    the index"): assign every row to its coarse IVF cell with the
    BASE-trained quantizer and report per-cell occupancy drift between
    the base corpus and the full (base ∪ arrivals) corpus, in exact ppm.
    A cell whose share moved is a cell whose centroid no longer sits
    where its data does — large total drift is the production signal to
    retrain (bump the corpus version) rather than keep appending to the
    streaming index.

    One narrow projection + one n_cells-row aggregate; the share math is
    pure integer (1e6 * n DIV total), so the report hash-checks.
    Output: (cell, n_base, n_all, share_base_ppm, share_all_ppm,
    share_drift_ppm), one row per occupied cell."""
    base = df.where(base_where)
    cell_ids, cvecs = _coarse_centroids(
        base, n_cells, vec_col, id_col, m, sub_dim
    )
    valid = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= m * sub_dim)
    ).select(
        id_col,
        F.when(base_where, F.lit(1)).otherwise(F.lit(0)).alias("__is_base"),
        *[
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                f"__sub{s}"
            )
            for s in range(m)
        ],
    )
    per_cell = (
        valid.withColumn("cell", _cell_assign_expr(cell_ids, cvecs, m, sub_dim))
        .groupBy("cell")
        .agg(
            F.sum("__is_base").alias("n_base"),
            F.count(F.lit(1)).alias("n_all"),
        )
    )
    # grand totals as a 1-row aggregate broadcast back in — computed from
    # the row frame directly (not from per_cell, whose exchange would
    # re-print in the totals branch; and not a partitionless window — no
    # SinglePartition sort anywhere)
    totals = valid.agg(
        F.sum("__is_base").alias("__tb"), F.count(F.lit(1)).alias("__ta")
    )
    return (
        per_cell.crossJoin(F.broadcast(totals))
        .select(
            "cell",
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_all").cast("long").alias("n_all"),
            F.expr("1000000 * n_base DIV __tb").alias("share_base_ppm"),
            F.expr("1000000 * n_all DIV __ta").alias("share_all_ppm"),
            F.expr(
                "abs(1000000 * n_all DIV __ta - 1000000 * n_base DIV __tb)"
            ).alias("share_drift_ppm"),
        )
    )


def coarse_cell_drift_sql(
    table: str = "embeddings",
    train_where: str = "vec_id % 10 <> 0",
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
) -> str:
    """Oracle twin of :func:`coarse_cell_drift`: coarse assignment of
    every row against the base-seeded centroids (the cdist/vass CTEs of
    the trained-on family), then the integer-ppm occupancy comparison."""
    g = f"{vec_col} IS NOT NULL AND len({vec_col}) >= {m * sub_dim}"
    guarded_all = f"(SELECT * FROM {table} WHERE {g})"
    guarded_train = f"(SELECT * FROM {table} WHERE ({train_where}) AND {g})"
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f"""fa{s} AS (
  SELECT {id_col},
         list_transform({vec_col}[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS e
  FROM {guarded_all} g
)"""
        )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded_train} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    vjoins = " ".join(
        f"JOIN fa{s} v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM fa0 v0 {vjoins} CROSS JOIN cents c
),
vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
),
per AS (
  SELECT cell,
         sum(CASE WHEN ({train_where.replace(id_col, 'vid')}) THEN 1 ELSE 0 END) AS n_base,
         count(*) AS n_all
  FROM vass GROUP BY cell
),
tot AS (SELECT sum(n_base) AS tb, sum(n_all) AS ta FROM per)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT cell, CAST(n_base AS BIGINT) AS n_base, CAST(n_all AS BIGINT) AS n_all,
       CAST(1000000 * n_base // tb AS BIGINT) AS share_base_ppm,
       CAST(1000000 * n_all // ta AS BIGINT) AS share_all_ppm,
       CAST(abs(1000000 * n_all // ta - 1000000 * n_base // tb) AS BIGINT)
         AS share_drift_ppm
FROM per, tot"""
    )


def distortion_frame(
    df: DataFrame,
    cents: list[list[list[float]]],
    cell_ids: list[int],
    cvecs: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int = 16,
) -> DataFrame:
    """Per-row PQ quantization error against a DRIVER-HELD quantizer:
    (id, cell, __q) where __q = floor(1e6 * sum over subspaces of the
    squared L2 distance to the nearest codebook centroid + 0.5) — the
    exact error the ADC serve path pays, integer-quantized so downstream
    sums are exact.  Pure Catalyst (the pq_encode_frame expressions plus
    an array_min fold per subspace), so it runs identically on batch and
    STREAMING frames — :func:`pq_distortion_report` aggregates it
    batch-side, stream_distortion_monitor folds it per microbatch."""
    valid = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= m * sub_dim)
    ).select(
        id_col,
        *[
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                f"__sub{s}"
            )
            for s in range(m)
        ],
    )
    for s in range(m):
        # single-parse SQL build (sqlexpr module docstring): this tree cost
        # 2.0-2.3 s of py4j construction per build (measured), repeated per
        # rep and per streaming-plan rebuild; the string parses in ~2 ms
        vec = sqlexpr.to_double_arr(f"`__sub{s}`")
        valid = valid.withColumn(
            f"__d{s}",
            F.expr(
                f"transform({sqlexpr.arr_arr_d(cents[s])}, "
                f"c -> {sqlexpr.sq_dist(vec, 'c')})"
            ),
        )
    dist = " + ".join(f"array_min(`__d{s}`)" for s in range(m))
    q = F.expr(f"CAST(floor(({dist}) * 1000000.0D + 0.5D) AS BIGINT)")
    return valid.withColumn(
        "cell", _cell_assign_expr(cell_ids, cvecs, m, sub_dim)
    ).select(id_col, "cell", q.alias("__q"))


def pq_distortion_report(
    df: DataFrame,
    base_where,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
) -> DataFrame:
    """PQ DISTORTION gauge — the retrain trigger's second axis.
    Occupancy drift (:func:`coarse_cell_drift`) answers "did the data
    MOVE between cells"; this answers "do the codebooks still FIT the
    data": per-cell mean PQ quantization (reconstruction) error of the
    BASE-trained codebooks — the sum over subspaces of the squared L2
    distance to each row's nearest codebook centroid, i.e. exactly the
    error the ADC serve path pays — compared between the base corpus and
    the full corpus.  A cell whose occupancy is steady but whose
    distortion grew is the failure mode occupancy drift cannot see:
    arrivals land in the right cell but far from every centroid (the
    standing index still FINDS them, just ranks them badly), and the fix
    is the same index_retrain action.

    Exactness: per-row distortion is deterministic double arithmetic on
    identical operands (the same per-subspace distances the coding
    argmin already compares), integer-quantized at 1e6 per row —
    floor(d*1e6 + 0.5) — then summed exactly and averaged by integer
    division, so the report hash-checks.

    Scale shape: one narrow projection over the corpus (the
    pq_encode_frame expressions plus an array_min fold per subspace —
    no extra pass, no shuffle beyond the n_cells-row aggregate); the
    codebooks/centroids are driver-held metadata.  Output: (cell,
    n_base, n_all, mean_dist_base_u, mean_dist_all_u, dist_drift_u),
    one row per occupied cell, micro-units."""
    base = df.where(base_where)
    _, cents = pq_train_assign(base, vec_col, id_col, m, k, sub_dim)
    cell_ids, cvecs = _coarse_centroids(
        base, n_cells, vec_col, id_col, m, sub_dim
    )
    per = (
        distortion_frame(
            df, cents, cell_ids, cvecs, vec_col, id_col, m, sub_dim
        )
        .withColumn(
            "__is_base",
            F.when(base_where, F.lit(1)).otherwise(F.lit(0)),
        )
        .select("cell", "__is_base", "__q")
        .groupBy("cell")
        .agg(
            F.sum("__is_base").cast("long").alias("n_base"),
            F.count(F.lit(1)).cast("long").alias("n_all"),
            F.sum(F.col("__q") * F.col("__is_base")).alias("__sum_base"),
            F.sum("__q").alias("__sum_all"),
        )
    )
    return per.select(
        "cell",
        "n_base",
        "n_all",
        F.expr("__sum_base div n_base").alias("mean_dist_base_u"),
        F.expr("__sum_all div n_all").alias("mean_dist_all_u"),
        F.expr(
            "abs(__sum_all div n_all - __sum_base div n_base)"
        ).alias("dist_drift_u"),
    )


def pq_distortion_report_sql(
    table: str = "embeddings",
    train_where: str = "vec_id % 10 <> 0",
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> str:
    """Oracle twin of :func:`pq_distortion_report`: the trained-on-base
    Lloyd CTE chains give the codebooks, a min-distance aggregate per
    subspace gives each row's quantization error (the same per-(vid,
    cid) distances the coding CTEs rank), the base-seeded cdist/vass
    CTEs give the coarse cell, and the census quantizes at 1e6 with
    exact HUGEINT sums and integer division."""
    g = f"{vec_col} IS NOT NULL AND len({vec_col}) >= {m * sub_dim}"
    guarded_all = f"(SELECT * FROM {table} WHERE {g})"
    guarded_train = f"(SELECT * FROM {table} WHERE ({train_where}) AND {g})"
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _lloyd_cte_parts(
                guarded_train, k, iterations,
                f"{vec_col}[{lo}:{hi}]", id_col, prefix=f"q{s}",
            )
        )
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f"""fa{s} AS (
  SELECT {id_col},
         list_transform({vec_col}[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS e
  FROM {guarded_all} g
),
fm{s} AS (
  SELECT v.{id_col} AS vid, min(
         list_sum(list_transform(generate_series(1, {sub_dim}),
                  i -> (v.e[i] - p.c[i]) * (v.e[i] - p.c[i])))) AS md
  FROM fa{s} v, q{s}c{iterations} p
  GROUP BY v.{id_col}
)"""
        )
    parts.append(
        f"cents AS (SELECT {id_col} AS cell, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM {guarded_train} g WHERE g.{id_col} < {n_cells})"
    )

    def sub_fold(vec_expr, cent_expr, s):
        off = s * sub_dim
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"i -> ({vec_expr}[i] - {cent_expr}[{off} + i])"
            f" * ({vec_expr}[i] - {cent_expr}[{off} + i])))"
        )

    vdist = " + ".join(sub_fold(f"v{s}.e", "c.cv", s) for s in range(m))
    vjoins = " ".join(
        f"JOIN fa{s} v{s} ON v{s}.{id_col} = v0.{id_col}"
        for s in range(1, m)
    )
    mjoins = " ".join(
        f"JOIN fm{s} m{s} ON m{s}.vid = m0.vid" for s in range(1, m)
    )
    msum = " + ".join(f"m{s}.md" if s else "m0.md" for s in range(m))
    parts.append(
        f"""cdist AS (
  SELECT v0.{id_col} AS vid, c.cell, {vdist} AS dist
  FROM fa0 v0 {vjoins} CROSS JOIN cents c
),
vass AS (
  SELECT vid, cell FROM (
    SELECT vid, cell,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cell) AS rn
    FROM cdist) r
  WHERE rn = 1
),
rowq AS (
  SELECT m0.vid,
         CAST(floor(({msum}) * 1000000.0 + 0.5) AS HUGEINT) AS q,
         CASE WHEN ({train_where.replace(id_col, 'm0.vid')})
              THEN 1 ELSE 0 END AS is_base
  FROM fm0 m0 {mjoins}
),
per AS (
  SELECT v.cell,
         sum(r.is_base) AS n_base,
         count(*) AS n_all,
         sum(r.q * r.is_base) AS sum_base,
         sum(r.q) AS sum_all
  FROM rowq r JOIN vass v ON v.vid = r.vid
  GROUP BY v.cell
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT cell, CAST(n_base AS BIGINT) AS n_base, CAST(n_all AS BIGINT) AS n_all,
       CAST(sum_base // n_base AS BIGINT) AS mean_dist_base_u,
       CAST(sum_all // n_all AS BIGINT) AS mean_dist_all_u,
       CAST(abs(sum_all // n_all - sum_base // n_base) AS BIGINT)
         AS dist_drift_u
FROM per"""
    )


def pca_power_iteration(
    df: DataFrame,
    vec_col: str = "embedding",
    n_dims: int = 8,
    quant: int = 1000,
    iterations: int = 6,
) -> DataFrame:
    """Top principal direction of the first ``n_dims`` embedding
    dimensions by POWER ITERATION IN EXACT INTEGER FIXED POINT — iterative
    linear algebra that hash-checks across engines (the same discipline
    as the fixed-point PageRank, applied to PCA):

      * the scatter matrix S = n·Σxy − Σx·Σy over ``quant``-quantized
        values is exact int64 (eigenvectors are scale-invariant, so no
        covariance division ever happens);
      * S rescales to <= 1e6 via offset floor-division
        (x*1e6 + K·M) // M − K with K = 2e6 — the offset keeps the
        numerator positive, where Python floor, Spark DIV and DuckDB //
        all agree (they disagree on negatives);
      * each iterate normalizes by its max |component| with the same
        offset trick; the final sign is fixed by the largest-|component|
        index (smallest index on ties) — fully deterministic.

    Scale shape: ONE wide whole-stage-codegen aggregate produces all
    d(d+1)/2 + d + 1 moments (embedding_scatter's plan — scan read once,
    map-side partials, a 1-row state shuffle); the iteration itself runs
    on the d x d integer matrix — metadata, like the kmeans centroid
    barrier.  Returns (dim_idx, component_fp) with components in 1e-6
    units of the unit-max-normalized eigenvector.

    Convergence contract: the result is EXACTLY the ``iterations``-th
    integer iterate (bit-reproducible on any engine/partitioning);
    closeness to the true eigenvector converges as (lambda2/lambda1)^t,
    so near-isotropic spectra need more rounds — size ``iterations`` to
    the spectrum (the gapped-spectrum test reaches cosine > 0.999 in 6).
    """
    dims = range(n_dims)
    qcols = [
        F.floor(
            F.element_at(F.col(vec_col), d + 1).cast("double") * quant
            + F.lit(0.5)
        )
        .cast("long")
        .alias(f"q{d}")
        for d in dims
    ]
    base = df.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= n_dims)
    ).select(*qcols)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(f"q{d}").alias(f"s{d}") for d in dims]
    aggs += [
        F.sum(F.col(f"q{i}") * F.col(f"q{j}")).alias(f"p{i}_{j}")
        for i in dims
        for j in dims
        if i <= j
    ]
    # metadata-scale: 1-row moment barrier
    row = base.agg(*aggs).collect()[0]  # 1-row moment barrier (metadata)
    n = row["n"]
    s = [int(row[f"s{d}"]) for d in dims]
    S = [[0] * n_dims for _ in dims]
    for i in dims:
        for j in dims:
            ii, jj = (i, j) if i <= j else (j, i)
            S[i][j] = n * int(row[f"p{ii}_{jj}"]) - s[i] * s[j]
    K = 2_000_000
    M = max(abs(S[i][j]) for i in dims for j in dims)
    spark = df.sparkSession
    if M == 0:
        return spark.createDataFrame(
            [(d, 0) for d in dims], "dim_idx int, component_fp long"
        )
    Sp = [
        [(S[i][j] * 1_000_000 + K * M) // M - K for j in dims] for i in dims
    ]
    v = [1_000_000] * n_dims
    for _ in range(iterations):
        w = [sum(Sp[i][j] * v[j] for j in dims) for i in dims]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [(wi * 1_000_000 + K * m) // m - K for wi in w]
    pick = max(dims, key=lambda i: (abs(v[i]), -i))
    if v[pick] < 0:
        v = [-x for x in v]
    return spark.createDataFrame(
        [(d, v[d]) for d in dims], "dim_idx int, component_fp long"
    )


def pca_power_iteration_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    n_dims: int = 8,
    quant: int = 1000,
    iterations: int = 6,
) -> str:
    """Oracle twin: the identical moments, rescale, iteration chain and
    sign fix as unrolled CTEs.  Every floor-division numerator is offset
    positive so DuckDB's truncating ``//`` equals Python's floor; wide
    intermediates pass through HUGEINT and cast back.

    Degenerate-case parity (ADVICE r04 #4): the Python side returns zeros
    when the scatter matrix is all-zero (M == 0, e.g. a constant-column
    corpus) and freezes the iterate when an intermediate ``w`` is exactly
    zero (break).  The SQL mirrors both — ``sp`` emits 0 under M == 0, each
    ``v{t}`` passes the prior iterate through under ``m{t} == 0`` (a frozen
    iterate reproduces the break), the final projection forces zeros under
    M == 0, and every divisor rides ``greatest(m, 1)`` so no branch can
    divide by zero even under speculative vectorized evaluation."""
    dims = range(n_dims)
    guard = (
        f"(SELECT * FROM {table} WHERE {vec_col} IS NOT NULL "
        f"AND len({vec_col}) >= {n_dims})"
    )
    qs = ", ".join(
        f"CAST(floor(CAST({vec_col}[{d + 1}] AS DOUBLE) * {quant} + 0.5) "
        f"AS BIGINT) AS q{d}"
        for d in dims
    )
    sums = ", ".join(f"CAST(sum(q{d}) AS BIGINT) AS s{d}" for d in dims)
    prods = ", ".join(
        f"CAST(sum(q{i} * q{j}) AS BIGINT) AS p{i}_{j}"
        for i in dims
        for j in dims
        if i <= j
    )
    full = []
    for i in dims:
        for j in dims:
            ii, jj = (i, j) if i <= j else (j, i)
            full.append(
                f"SELECT {i} AS i, {j} AS j, "
                f"n * p{ii}_{jj} - s{i} * s{j} AS c FROM s"
            )
    sp_rows = "\n  UNION ALL ".join(full)
    K = 2_000_000
    parts = [
        f"q AS MATERIALIZED (SELECT {qs} FROM {guard} g)",
        f"s AS MATERIALIZED (SELECT count(*) AS n, {sums}, {prods} FROM q)",
        f"sm AS MATERIALIZED ({sp_rows})",
        "mm AS MATERIALIZED (SELECT max(abs(c)) AS m FROM sm)",
        f"""sp AS MATERIALIZED (
  SELECT i, j,
         CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST((CAST(c AS HUGEINT) * 1000000
                         + {K} * CAST(m AS HUGEINT))
                        // greatest(m, 1) - {K} AS BIGINT) END AS c
  FROM sm, mm)""",
        "v0(idx, val) AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) FROM sm "
        "WHERE j = 0)",
    ]
    prev = "v0"
    for t in range(1, iterations + 1):
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT sp.i AS idx, sum(sp.c * v.val) AS wv
  FROM sp JOIN {prev} v ON sp.j = v.idx GROUP BY 1)"""
        )
        parts.append(f"m{t} AS MATERIALIZED (SELECT max(abs(wv)) AS m FROM w{t})")
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT w.idx,
         CASE WHEN m.m = 0 THEN p.val
              ELSE CAST((CAST(w.wv AS HUGEINT) * 1000000
                         + {K} * CAST(m.m AS HUGEINT))
                        // greatest(m.m, 1) - {K} AS BIGINT) END AS val
  FROM w{t} w JOIN {prev} p ON w.idx = p.idx, m{t} m)"""
        )
        prev = f"v{t}"
    parts.append(
        f"pick AS (SELECT idx FROM {prev} ORDER BY abs(val) DESC, idx "
        "LIMIT 1)"
    )
    parts.append(
        f"sgn AS (SELECT CASE WHEN v.val < 0 THEN -1 ELSE 1 END AS s "
        f"FROM {prev} v JOIN pick USING (idx))"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(v.idx AS INTEGER) AS dim_idx,
       CAST(CASE WHEN mm.m = 0 THEN 0 ELSE v.val * sgn.s END AS BIGINT)
         AS component_fp
FROM {prev} v, sgn, mm
ORDER BY dim_idx"""
    )


# --------------------------------------------------------------------------
# Drift-triggered index retraining (VERDICT r09 ask #2 — the ACTION half of
# the drift gauges).  index_drift_report / stream_drift_monitor SENSE that
# the base-trained quantizer no longer sits where the data does; this
# operator DECIDES and EXECUTES: measure drift from the standing index's
# own codes, and when it exceeds the declared threshold, retrain the
# quantizer on the CURRENT corpus, re-code every row, and swap the artifact
# triple via the committed-next-then-swap protocol of
# streaming.compact_streaming_index (reference analog: the initialize-time
# rebuild contract, DataMigrationProcess.java:106-135 — the reference
# re-plans per run; a standing index must decide when to).


def codes_cell_drift(codes: DataFrame, base_where) -> DataFrame:
    """Per-cell occupancy drift read from the INDEX ITSELF: the codes
    artifact already carries every row's coarse cell, so the staleness
    gauge is one n_cells-row aggregate over small integers — no float
    corpus pass (coarse_cell_drift's shape, minus the assignment work the
    index already paid for).  ``base_where`` must be expressible over the
    codes frame's columns (in practice: the id column).  Output schema is
    coarse_cell_drift's exact 6 columns."""
    flagged = codes.select(
        "cell",
        F.when(base_where, F.lit(1)).otherwise(F.lit(0)).alias("__is_base"),
    )
    per_cell = flagged.groupBy("cell").agg(
        F.sum("__is_base").alias("n_base"),
        F.count(F.lit(1)).alias("n_all"),
    )
    totals = flagged.agg(
        F.sum("__is_base").alias("__tb"), F.count(F.lit(1)).alias("__ta")
    )
    return per_cell.crossJoin(F.broadcast(totals)).select(
        "cell",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_all").cast("long").alias("n_all"),
        F.expr("1000000 * n_base DIV __tb").alias("share_base_ppm"),
        F.expr("1000000 * n_all DIV __ta").alias("share_all_ppm"),
        F.expr(
            "abs(1000000 * n_all DIV __ta - 1000000 * n_base DIV __tb)"
        ).alias("share_drift_ppm"),
    )


def build_index_triple(
    spark: SparkSession,
    corpus: DataFrame,
    train: DataFrame,
    store: str,
    prefix: str,
    staged: bool = False,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
    iterations: int = 2,
) -> None:
    """Train the quantizer on ``train`` and code EVERY ``corpus`` row with
    it — the train-on-base/code-the-union contract of
    streaming_index_update, persisted as the ``{prefix}_*`` artifact
    triple.  ``staged=True`` writes ``{prefix}_*_next`` names instead (the
    retrain swap's staging area).  Commit order is the store's invariant:
    centroids, codebooks, codes LAST (the codes artifact is the gate)."""
    from ..sinks.artifacts import (
        save_artifact,
        save_coarse_centroids,
        save_pq_codebooks,
    )

    suffix = "_next" if staged else ""
    _, books = pq_train_assign(train, vec_col, id_col, m, k, sub_dim,
                               iterations)
    cell_ids, cvecs = _coarse_centroids(
        train, n_cells, vec_col, id_col, m, sub_dim
    )
    save_coarse_centroids(
        spark, store, cell_ids, cvecs, name=f"{prefix}_centroids{suffix}"
    )
    save_pq_codebooks(spark, store, books, name=f"{prefix}_codebooks{suffix}")
    codes = pq_encode_frame(
        corpus, books, cell_ids, cvecs, vec_col, id_col, m, sub_dim
    )
    save_artifact(codes, store, f"{prefix}_codes{suffix}")


def finish_index_retrain(store: str, prefix: str) -> bool:
    """Complete (or re-complete) an interrupted retrain swap — the
    three-artifact generalization of streaming's
    _finish_sidx_compaction: the staged ``{prefix}_codes_next`` commit
    marker is the gate.  Gate OPEN: every staged part is promoted
    (delete current, rename next -> current), codebooks and centroids
    first and codes LAST so the gate stays open until the whole triple
    is promoted — re-runnable from any crash point (an already-promoted
    part simply has no ``_next`` dir left).  Gate CLOSED: any staged
    centroids/codebooks are orphans of a build that died before its
    gate commit — they are dropped and the standing triple is untouched.
    Returns True iff a promotion ran."""
    import os
    import shutil

    from ..sinks.artifacts import artifact_path, has_artifact

    if not has_artifact(store, f"{prefix}_codes_next"):
        for part in ("centroids", "codebooks"):
            shutil.rmtree(
                artifact_path(store, f"{prefix}_{part}_next"),
                ignore_errors=True,
            )
        return False
    for part in ("codebooks", "centroids", "codes"):
        nxt = artifact_path(store, f"{prefix}_{part}_next")
        if os.path.isdir(nxt):
            cur = artifact_path(store, f"{prefix}_{part}")
            shutil.rmtree(cur, ignore_errors=True)
            os.rename(nxt, cur)
    return True


def index_retrain(
    spark: SparkSession,
    corpus: DataFrame,
    base_where,
    store: str,
    threshold_ppm: int,
    prefix: str = "rtr",
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 4,
    sub_dim: int = 16,
) -> tuple[bool, int]:
    """The drift->retrain ACTION loop, end to end: ensure the standing
    ``{prefix}_*`` index exists (train on the ``base_where`` rows, code
    the full corpus — first run only), measure total occupancy drift
    FROM ITS CODES (codes_cell_drift: one n_cells-row aggregate), and

      * drift  > threshold_ppm: retrain the quantizer on the CURRENT
        corpus, re-code every row, commit the staged ``{prefix}_*_next``
        triple (codes-next last = the gate), then swap via
        finish_index_retrain — a crash anywhere leaves either the old
        standing triple or a committed next, never a half-index;
      * drift <= threshold_ppm: the store is left byte-untouched and the
        standing triple keeps serving.

    Returns (retrained, total_drift_ppm).  ``base_where`` must be a
    predicate over the id column (it flags base rows both in the corpus
    and in the codes frame).  Scale shape: the decision costs one integer
    scan of the codes artifact; the retrain costs one corpus pass — paid
    only when the data has measurably moved, which is exactly the
    economics the drift gauges exist to enforce."""
    from ..sinks.artifacts import has_artifact, load_artifact

    finish_index_retrain(store, prefix)
    if not has_artifact(store, f"{prefix}_codes"):
        build_index_triple(
            spark, corpus, corpus.where(base_where), store, prefix,
            n_cells=n_cells, vec_col=vec_col, id_col=id_col,
            m=m, k=k, sub_dim=sub_dim,
        )
    codes = load_artifact(spark, store, f"{prefix}_codes")
    # metadata-scale: 1-row drift total over the <= n_cells census
    drift_rows = codes_cell_drift(codes, base_where).agg(
        F.sum("share_drift_ppm").alias("total")
    ).collect()
    total_drift = int(drift_rows[0]["total"] or 0)
    if total_drift <= threshold_ppm:
        return False, total_drift
    build_index_triple(
        spark, corpus, corpus, store, prefix, staged=True,
        n_cells=n_cells, vec_col=vec_col, id_col=id_col,
        m=m, k=k, sub_dim=sub_dim,
    )
    finish_index_retrain(store, prefix)
    return True, total_drift
