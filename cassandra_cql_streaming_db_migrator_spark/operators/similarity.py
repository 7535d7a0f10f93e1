"""Similarity search over embedding columns (SURVEY §7.2.6).

Embeddings are ``array<float>`` columns.  Two paths:

  * ``cosine_topk`` — brute-force exact scan: the baseline, and the
    correctness oracle for the ANN path.  All arithmetic is a sequential
    double-precision fold (numpy over Arrow batches, F.aggregate in the
    Catalyst folds below), so results are bit-reproducible across engines.
  * ``lsh_ann_topk`` — the scale path: deterministic random-hyperplane LSH.
    Each vector gets a B-bit bucket id (sign of dot(plane_b, v)); search
    touches only the query's bucket.  At 100 TB the bucketing is a narrow
    map + one partition-pruned read when bucket ids are a partition column;
    brute force stays O(n) per query.

Hyperplanes are pseudo-random but frozen: component i of plane b is derived
from an LCG on (b, i), so engine and tests agree without storing planes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .caching import materialized


def _dot_sql(a: str, b: str) -> str:
    """The :func:`_dot` fold as SQL text — identical tree, parsed JVM-side
    in one call instead of ~6 py4j lambda round trips (sqlexpr module
    docstring; parity pinned by tests/test_sqlexpr_parity.py).  Lambda
    variables are prefixed so a caller's column name can never shadow
    them."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(_lx, _ly) -> CAST(_lx AS DOUBLE) * CAST(_ly AS DOUBLE)), "
        "0.0D, (_lacc, _lv) -> _lacc + _lv)"
    )


def _dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in double precision (deterministic:
    same operand order -> same bits on any engine).  Pass COLUMN NAMES
    (strings) on hot paths: the string form builds via one SQL parse."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(f"`{a}`", f"`{b}`"))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        qa, qb = f"`{a}`", f"`{b}`"
        return F.expr(
            f"{_dot_sql(qa, qb)} / "
            f"(sqrt({_dot_sql(qa, qa)}) * sqrt({_dot_sql(qb, qb)}))"
        )
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a single query vector (one-row DF).
    Ties broken by id for determinism; TakeOrderedAndProject keeps the
    scan single-pass either way.

    The query vector is a search *parameter*, not data — pull it to the
    driver once and score each Arrow batch with the sequential dimension
    fold (bit-identical to the SQL fold, C speed).  A zero-norm vector
    (either side) scores a NULL cosine, which sorts last."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [embeddings.schema[id_col], StructField("cosine", DoubleType(), True)]
    )
    qrows = query.select(F.col(vec_col)).limit(1).collect()
    if not qrows:
        # no query row: no scores (as a cross join with it would give)
        return embeddings.sparkSession.createDataFrame([], schema)
    qv = np.asarray(qrows[0][0], dtype=np.float64)
    qnorm_sq = 0.0
    for d in range(qv.shape[0]):
        qnorm_sq = qnorm_sq + qv[d] * qv[d]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dots = _seq_fold_dots(mat, np.broadcast_to(qv, mat.shape))
            norms = _seq_fold_dots(mat, mat)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dots / (np.sqrt(norms) * np.sqrt(qnorm_sq))
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "cosine": cos})

    scored = embeddings.select(id_col, vec_col).mapInPandas(score, schema)
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# --- deterministic hyperplane LSH -----------------------------------------

_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2_147_483_648


def _plane_matrix(dim: int, n_bits: int):
    """The frozen LCG hyperplanes as an (n_bits, dim) float64 matrix:
    component i of plane b is ((A*(b*4096+i)+C) mod M) / M*2 - 1, in
    int64 integers then float64 ops (the SQL bucketing folds in
    queries.llm spell the same formula)."""
    import numpy as np

    i = np.arange(dim, dtype=np.int64)
    rows = [
        ((_LCG_A * (b * 4096 + i) + _LCG_C) % _LCG_M).astype(np.float64)
        / _LCG_M
        * 2.0
        - 1.0
        for b in range(n_bits)
    ]
    return np.stack(rows)


def with_bucket_ids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
    out_col: str = "__bucket",
) -> DataFrame:
    """Append the B-bit LSH bucket id column (bit b = sign of
    dot(plane_b, vec)): all bit projections in one numpy pass per batch,
    each a sequential dimension fold."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(df.schema.fields + [StructField(out_col, LongType(), False)])

    def assign(batches):
        planes = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None or planes.shape[1] != mat.shape[1]:
                planes = _plane_matrix(mat.shape[1], n_bits)
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for b in range(n_bits):
                acc = np.zeros(len(pdf), dtype=np.float64)
                for d in range(mat.shape[1]):
                    acc = acc + mat[:, d] * planes[b, d]
                bucket |= (acc > 0).astype(np.int64) << b
            yield pdf.assign(**{out_col: bucket})

    return df.mapInPandas(assign, schema)


def lsh_ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    Recall is tunable via n_bits (fewer bits -> bigger buckets -> higher
    recall, more compute)."""
    bucketed = with_bucket_ids(embeddings, vec_col, n_bits)
    q = F.broadcast(
        with_bucket_ids(query, vec_col, n_bits).select(
            F.col(vec_col).alias("__query_vec"), F.col("__bucket").alias("__qbucket")
        )
    )
    candidates = bucketed.join(q, bucketed["__bucket"] == q["__qbucket"])
    scored = candidates.select(
        F.col(id_col), cosine(vec_col, "__query_vec").alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def lsh_ann_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k PER QUERY over a query SET (VERDICT r07 ask #3:
    production retrieval serves batches, not ``vec_id = 0``).  One corpus
    bucketing pass regardless of query count: the bucketed query frame
    rides as a BROADCAST, candidates are the bucket-equality join (cost ~
    corpus rows x queries-per-bucket, never |Q| corpus scans), and the
    per-query exact top-k is one window partitioned by query id —
    deterministic total order (cosine DESC, id ASC), so the whole batch
    hash-checks.

    Output: (query_id, id, cosine, rn), rn = 1..k per query.
    """
    bucketed = with_bucket_ids(embeddings, vec_col, n_bits)
    return lsh_ann_batch_bucketed(bucketed, queries, k, id_col, vec_col, n_bits)


def lsh_ann_batch_bucketed(
    bucketed: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
) -> DataFrame:
    """The probe stage of :func:`lsh_ann_batch` over an ALREADY-BUCKETED
    corpus — the serve-from-store path (VERDICT r08 ask #3): the bucket
    table (id, vec, ``__bucket``) is built once and persisted by the
    index pipeline, and every query batch only bucket-hashes its own
    |Q| vectors before the broadcast equi-join.  Because the bucketing
    kernel is deterministic, probing a SAVED bucket table is
    value-identical to rebucketing inline — the oracle is unchanged."""
    from pyspark.sql import Window

    q = F.broadcast(
        with_bucket_ids(queries, vec_col, n_bits).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__query_vec"),
            F.col("__bucket").alias("__qbucket"),
        )
    )
    scored = bucketed.join(q, bucketed["__bucket"] == q["__qbucket"]).select(
        "query_id",
        F.col(id_col),
        cosine(vec_col, "__query_vec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _seq_fold_dots(mat_a, mat_b):
    """Pairwise dot products as the SAME sequential left-fold the SQL
    folds use — a python loop over dimensions, vectorized across rows:
    ((0 + x0*y0) + x1*y1) + ... per element.  numpy BLAS dot would change
    the summation order and therefore the low-order bits, breaking
    cross-engine hash parity; this keeps every intermediate IEEE-identical
    while still running at C speed across the whole pair batch."""
    import numpy as np

    acc = np.zeros(mat_a.shape[0], dtype=np.float64)
    for d in range(mat_a.shape[1]):
        acc = acc + mat_a[:, d] * mat_b[:, d]
    return acc


# Pair-expanded kernel buffers hold at most this many float64 elements
# (~64 MB each): the bound that keeps a pathologically hot block (millions
# of rows under one label at 100x scale) from materializing O(b^2) pairs in
# one pandas frame and OOMing the executor.
_PAIR_ELEM_BUDGET = 8_000_000


def _iter_pair_chunks(n: int, dim: int, elem_budget: int):
    """Yield (i_idx, j_idx) index-array chunks that together cover every
    i<j pair of an n-row block, each chunk capped so the pair-expanded
    (pairs x dim) matrices stay within ``elem_budget`` elements.  Chunking
    only regroups the pair enumeration — per-pair arithmetic and the global
    selection order are unchanged, so results are bit-identical to the
    unchunked kernel (tested with a deliberately skewed block).

    ``elem_budget`` is resolved DRIVER-side (module constant) and captured
    by value in the kernel closure: Python workers re-import this module,
    so a worker-side read of the global would ignore any override."""
    import numpy as np

    budget = max(1, elem_budget // max(dim, 1))
    buf_i, buf_j, filled = [], [], 0
    for r in range(n - 1):
        remaining = n - 1 - r
        start = r + 1
        while remaining:
            take = min(remaining, budget - filled)
            buf_i.append(np.full(take, r, dtype=np.int64))
            buf_j.append(np.arange(start, start + take, dtype=np.int64))
            filled += take
            start += take
            remaining -= take
            if filled == budget:
                yield np.concatenate(buf_i), np.concatenate(buf_j)
                buf_i, buf_j, filled = [], [], 0
    if filled:
        yield np.concatenate(buf_i), np.concatenate(buf_j)


def block_top_pairs(
    embeddings: DataFrame,
    block_col: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-similar pairs within each block, ranked by
    (cosine desc, id_1, id_2).  Output: block, id_1, id_2, cosine, rn.

    One applyInPandas per block: enumerate the block's pairs with triu
    indices, sequential-fold dots (bit-identical to the SQL fold), top-k
    inside the kernel.  The pair matrix never leaves the executor: no
    pair-shuffle, no window over O(n^2) rows.  A pair with a zero-norm
    vector scores a NULL cosine and ranks last.

    Within-block pairwise is O(n^2/block) COMPUTE by design — the block
    column IS the scale control (labels here; LSH buckets at 100 TB) — but
    MEMORY is bounded regardless: pairs are enumerated in _PAIR_ELEM_BUDGET
    chunks with a running top-k merge, so a hot block degrades to slow, not
    to an executor OOM."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    elem_budget = _PAIR_ELEM_BUDGET  # captured by value into the kernel

    schema = StructType(
        [
            embeddings.schema[block_col],
            StructField(f"{id_col}_1", embeddings.schema[id_col].dataType, True),
            StructField(f"{id_col}_2", embeddings.schema[id_col].dataType, True),
            StructField("cosine", DoubleType(), True),
            StructField("rn", IntegerType(), False),
        ]
    )

    def topk_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {c.name: pd.Series(dtype="object") for c in schema.fields}
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt(_seq_fold_dots(mat, mat))
        # bounded-memory running top-k over pair chunks: selecting by the
        # total order (cosine desc, id_1, id_2) is associative under merge,
        # so the result equals one global sort over all O(n^2) pairs
        # (ids sorted above, so i<j => id_i<id_j)
        bi = bj = bcos = None
        for i, j in _iter_pair_chunks(n, mat.shape[1], elem_budget):
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = _seq_fold_dots(mat[i], mat[j]) / (norms[i] * norms[j])
            if bi is not None:
                i = np.concatenate([bi, i])
                j = np.concatenate([bj, j])
                cos = np.concatenate([bcos, cos])
            rank = np.lexsort((ids[j], ids[i], -cos))[:k]
            bi, bj, bcos = i[rank], j[rank], cos[rank]
        return pd.DataFrame(
            {
                block_col: pdf[block_col].iloc[0],
                f"{id_col}_1": ids[bi],
                f"{id_col}_2": ids[bj],
                "cosine": bcos,
                "rn": np.arange(1, len(bi) + 1, dtype=np.int32),
            }
        )

    return embeddings.select(block_col, id_col, vec_col).groupBy(block_col).applyInPandas(
        topk_pairs, schema
    )


def block_near_dup_pairs(
    embeddings: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: within each block, pairs with
    cosine >= threshold.  Same applyInPandas kernel as block_top_pairs
    (sequential-fold dots, O(n^2) compute bounded by the block, memory
    bounded by _PAIR_ELEM_BUDGET chunking — only threshold survivors
    accumulate) but thresholded instead of ranked — the dedup-decision
    form.  At scale the block column is an LSH bucket or IVF cell; labels
    on the fixtures."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    elem_budget = _PAIR_ELEM_BUDGET  # captured by value into the kernel

    schema = StructType(
        [
            embeddings.schema[block_col],
            StructField(f"{id_col}_1", embeddings.schema[id_col].dataType, True),
            StructField(f"{id_col}_2", embeddings.schema[id_col].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({c.name: pd.Series(dtype="object") for c in schema.fields})
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt(_seq_fold_dots(mat, mat))
        # bounded-memory: only threshold survivors accumulate (the actual
        # result set); the O(n^2) pair expansion never exists at once
        out_1, out_2, out_cos = [], [], []
        for i, j in _iter_pair_chunks(n, mat.shape[1], elem_budget):
            cos = _seq_fold_dots(mat[i], mat[j]) / (norms[i] * norms[j])
            keep = cos >= threshold
            if keep.any():
                out_1.append(ids[i[keep]])
                out_2.append(ids[j[keep]])
                out_cos.append(cos[keep])
        empty = np.array([], dtype=ids.dtype)
        return pd.DataFrame(
            {
                block_col: pdf[block_col].iloc[0],
                f"{id_col}_1": np.concatenate(out_1) if out_1 else empty,
                f"{id_col}_2": np.concatenate(out_2) if out_2 else empty,
                "cosine": np.concatenate(out_cos)
                if out_cos
                else np.array([], dtype=np.float64),
            }
        )

    return (
        embeddings.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(pairs, schema)
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer assigns every vector
    to its nearest centroid cell; the query probes only the ``n_probe``
    closest cells.  Output: (id, cell, cosine) for the top-k candidates.

    Centroids here are the first ``n_cells`` vectors by id — a
    deterministic, training-free stand-in for k-means centroids (at scale
    you train the quantizer offline once and broadcast it; the search-time
    dataflow is identical).  Unlike LSH bucketing, cell population adapts
    to the data distribution, which is IVF's advantage on clustered
    embeddings.

    Everything is one narrow mapInPandas pass per batch: assignment,
    probe filter and query scoring — candidates stream out, the pair
    matrix never exists.  Ranking math is the sequential dimension fold,
    bit-identical to the SQL oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    # metadata-scale: n_cells seed rows by construction
    cent_rows = (
        embeddings.filter(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if not cent_rows:
        raise ValueError(
            f"ivf_ann_topk: no centroid rows with {id_col} < {n_cells}; "
            "pass an explicit centroid table for non-contiguous id spaces"
        )
    # cell ids are the centroids' ACTUAL ids — argmax gives a position,
    # which only equals the id when ids are contiguous from 0
    cent_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    cents = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    cnorms = np.sqrt(_seq_fold_dots(cents, cents))

    qrows = query.select(F.col(vec_col)).limit(1).collect()
    if not qrows:
        raise ValueError("ivf_ann_topk: query DataFrame matched no rows")
    qv = np.asarray(qrows[0][0], dtype=np.float64)
    qnorm = np.sqrt(_seq_fold_dots(qv[None, :], qv[None, :]))[0]

    qcos = _seq_fold_dots(np.broadcast_to(qv, cents.shape), cents) / (qnorm * cnorms)
    probe = np.lexsort((np.arange(len(cents)), -qcos))[:n_probe]
    probe_set = set(int(c) for c in probe)

    schema = StructType(
        [
            embeddings.schema[id_col],
            StructField("cell", LongType(), False),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.sqrt(_seq_fold_dots(mat, mat))
            cell_cos = np.stack(
                [
                    _seq_fold_dots(mat, np.broadcast_to(cents[c], mat.shape))
                    / (norms * cnorms[c])
                    for c in range(len(cents))
                ]
            )
            cell = np.argmax(cell_cos, axis=0)  # ties -> smallest cell id
            keep = np.isin(cell, list(probe_set))
            if not keep.any():
                continue
            qdots = _seq_fold_dots(mat[keep], np.broadcast_to(qv, mat[keep].shape))
            cos = qdots / (norms[keep] * qnorm)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "cell": cent_ids[cell[keep]],
                    "cosine": cos,
                }
            )

    scored = embeddings.select(id_col, vec_col).mapInPandas(score, schema)
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization stats per vector: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5), error = x_i - q_i * scale.  The
    compression step an ANN index applies before storing a 100 TB
    embedding corpus (4x smaller than float32) — per-row pure, narrow, no
    shuffle (distributes like any map).

    The rounding is written as ``floor(x + 0.5)`` EXPLICITLY because the
    three engines that must agree bit-for-bit (this Arrow kernel, the
    Catalyst reference in tests/catalyst_reference.py, the DuckDB oracle) all implement ``floor`` as the same
    exact IEEE operation, while ``round`` differs (banker's in numpy,
    HALF_UP via BigDecimal in Spark).  Every op is an exact-rounded IEEE
    double op applied in the same order — the MSE fold runs dimension-
    sequentially — so outputs need no rounding at the boundary.

    Zero vectors quantize against a substitute scale of 1.0 (q = err = 0,
    reported scale stays 0) — division by a zero scale would otherwise
    produce NaN here but LONG-coerced zeros in Catalyst, breaking parity.
    NULL embeddings yield NULL stats, like the Catalyst reference.

    Reports (scale, max_abs_err, mse) rather than the int8 array so the
    result is scalar-hashable."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            valid = pdf[vec_col].notna()
            out = pd.DataFrame({id_col: pdf[id_col]})
            for c in ("scale", "max_abs_err", "mse"):
                out[c] = pd.array([None] * len(pdf), dtype="Float64")
            if valid.any():
                vecs = np.stack(pdf.loc[valid, vec_col].to_numpy()).astype(np.float64)
                scale = np.abs(vecs).max(axis=1) / 127.0
                safe = np.where(scale == 0.0, 1.0, scale)
                q = np.floor(vecs / safe[:, None] + 0.5)
                err = vecs - q * safe[:, None]
                mse = np.zeros(len(vecs))
                for j in range(vecs.shape[1]):  # dimension-sequential fold
                    mse = mse + err[:, j] * err[:, j]
                out.loc[valid, "scale"] = scale
                out.loc[valid, "max_abs_err"] = np.abs(err).max(axis=1)
                out.loc[valid, "mse"] = mse / vecs.shape[1]
            yield out

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        kernel,
        schema=f"{id_col} {id_type}, scale double, max_abs_err double, mse double",
    )


def label_centroid_stats(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label centroid and cluster-tightness stats — the k-means-style
    primitive (assignment step's complement) over an embedding corpus:
    ``n_vecs``, the centroid's L2 norm, and the mean squared distance of
    members to their centroid (inertia / n).

    Exactness discipline: row order across a shuffle is nondeterministic,
    so every cross-row sum is made associative by floor-quantizing the
    addend to an integer at 1e-10 resolution (``floor(x * 1e10 + 0.5)``)
    and summing as DECIMAL(38,0).  A plain ``CAST(x AS DECIMAL(28,10))``
    would NOT be engine-portable here: float32 embedding values are dyadic
    rationals whose decimal expansions terminate in a 5, producing exact
    half-way ties at the cast that Spark (HALF_UP) and other engines
    (half-even) break differently — integers cannot tie.  Per-member
    squared distance is the dimension-sequential fold
    (:func:`_seq_fold_dots` over the member-centroid difference); division
    orders are fixed and identical in the SQL oracle.

    Plan shape at scale: posexplode -> groupBy(label, dim) hash-aggregates
    partially map-side, so the shuffle carries ~labels x dims x mappers
    rows, not the corpus; the centroid table is label-cardinality-bounded
    and BROADCASTS back to members; distances run in a narrow Arrow
    kernel; the final per-label aggregate partial-aggregates again.  Three
    metadata-light shuffles total, none proportional to corpus bytes.
    """
    import pandas as pd

    # NULL and empty vectors are excluded (degenerate members); dimensions
    # are expected uniform within a label — the embedding-corpus contract —
    # and ragged input fails fast in the kernel's np.stack
    valid = df.where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    dims = valid.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("__pos", "__val")
    )
    per_dim = dims.groupBy(label_col, "__pos").agg(
        F.sum(
            F.floor(F.col("__val").cast("double") * F.lit(1e10) + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    cent_arr = (
        per_dim.select(
            F.col(label_col),
            F.col("__pos"),
            (F.col("__s").cast("double") / F.col("__n") / F.lit(1e10)).alias("__c"),
        )
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__c"))),
                lambda s: s["__c"],
            ).alias("__cent")
        )
        # consumed by both the distance join and the final projection —
        # materialized so the per-dim aggregation runs once
    )
    cent_arr = materialized(cent_arr)
    label_type = df.schema[label_col].dataType.simpleString()

    def sqdist_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cm = np.stack(pdf["__cent"].to_numpy()).astype(np.float64)
            diff = mat - cm
            yield pd.DataFrame(
                {label_col: pdf[label_col], "__sq": _seq_fold_dots(diff, diff)}
            )

    sq = valid.select(label_col, vec_col).join(
        F.broadcast(cent_arr), label_col
    ).mapInPandas(sqdist_kernel, schema=f"{label_col} {label_type}, __sq double")
    stats = sq.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            F.floor(F.col("__sq") * F.lit(1e10) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("__ss"),
    )
    return stats.join(F.broadcast(cent_arr), label_col).select(
        F.col(label_col),
        F.col("n_vecs"),
        F.sqrt(_dot("__cent", "__cent")).alias("centroid_norm"),
        (F.col("__ss").cast("double") / F.col("n_vecs") / F.lit(1e10)).alias(
            "mean_sq_dist"
        ),
    )


def bench_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-corpus-doc benchmark-contamination report by exact cosine
    (semantic_decontaminate's kernel): the bench side rides into every
    task as a dense float64 matrix (the knn_join broadcast contract —
    eval suites are metadata-scale at any corpus size) and the corpus
    streams through ONE Arrow kernel pass, each row emitting its bench
    hit count, max cosine, and first (lowest-id) argmax bench id when
    any bench neighbor clears ``threshold``.  ZERO shuffles: every doc
    lives in exactly one batch, so no window or aggregate follows.

    Numeric parity: the same sequential dimension fold as
    _seq_fold_dots, so every cosine is bit-identical to the SQL oracle's
    list fold; NaN (zero-norm) comparisons are False on both engines."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .driverside import collect_bounded

    # bounded by contract: the bench suite is a curated eval set, never
    # corpus-scale (collect_bounded raises a typed error past the bound)
    brows = sorted(
        collect_bounded(
            bench.select(id_col, vec_col), what="decontaminate bench suite"
        ),
        key=lambda r: r[0],
    )
    id_field = corpus.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("n_bench_hits", LongType(), True),
            StructField("max_cosine", DoubleType(), True),
            StructField("top_bench_id", id_field.dataType, True),
        ]
    )
    if not brows:
        return corpus.sparkSession.createDataFrame([], schema)
    bids = np.array([r[0] for r in brows])
    bmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in brows])
    bnorms = np.sqrt(_seq_fold_dots(bmat, bmat))
    dim = bmat.shape[1]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.sqrt(_seq_fold_dots(mat, mat))
            acc = np.zeros((mat.shape[0], len(bids)), dtype=np.float64)
            for d in range(dim):
                acc = acc + mat[:, d][:, None] * bmat[:, d][None, :]
            cos = acc / (norms[:, None] * bnorms[None, :])
            with np.errstate(invalid="ignore"):
                hits = cos >= threshold  # NaN compares False, as in SQL
            n = hits.sum(axis=1)
            keep = np.nonzero(n > 0)[0]
            if not len(keep):
                continue
            masked = np.where(hits[keep], cos[keep], -np.inf)
            top_j = masked.argmax(axis=1)  # first max -> lowest bench id
            yield pd.DataFrame(
                {
                    id_col: cids[keep],
                    "n_bench_hits": n[keep].astype(np.int64),
                    "max_cosine": masked[np.arange(len(keep)), top_j],
                    "top_bench_id": bids[top_j],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(score, schema)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk_rows: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbor JOIN by cosine: for every row of ``queries``,
    its top-k neighbors from ``corpus`` — the batch retrieval-evaluation
    primitive (recall@k ground truth, hard-negative mining, cross-corpus
    linking), vs ``cosine_topk``'s single query vector.

    Distributed shape: the query side is pulled to the driver once and rides
    into every task as a dense float64 matrix — a BROADCAST CONTRACT (a
    retrieval workload of 1e4 queries x 1k dims is ~80 MB).  For query sets
    beyond broadcast size, pass ``query_chunk_rows``: the query set splits
    into chunks of that many rows, each chunk scores the corpus with its
    own bounded in-task matrix, and the candidate streams union BEFORE the
    single global top-k window — chunks partition the query ids, so the
    per-query window never mixes chunks and the result is BIT-IDENTICAL
    to the unchunked path (pinned by test).  The trade is one corpus pass
    per chunk; when even that is too hot, flip to ``ivf_ann_topk`` per
    query partition.  The corpus streams through an Arrow kernel once per
    chunk regardless of query count (vs |Q| full scans if each query used
    cosine_topk), each batch emitting only its local top-k per query; the
    global exact top-k is a window over |batches| * |Q| * k candidate
    rows — metadata-scale.  No corpus shuffle at any point; the only
    exchange is the candidate aggregation.

    Numeric parity: per-pair cosine is the same sequential dimension fold as
    _seq_fold_dots (acc built one dimension at a time across the batch x
    query matrix), so scores are bit-identical to the Catalyst / DuckDB
    list_reduce fold.  Batch-local top-k uses the global total order
    (cosine desc, neighbor id asc) with an exact >=-threshold tie guard, so
    chunking never changes the result.  Zero-norm corpus vectors (cosine
    undefined -> NaN) are excluded by contract on both engines.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from .driverside import collect_bounded

    # bounded by contract: the query set is metadata-scale (it rides to
    # every task as a dense matrix); past the bound this raises rather
    # than OOMing the driver — callers with a legitimately growing input
    # belong on contrastive_topk's chunked-anchor pattern
    qrows = collect_bounded(
        queries.select(id_col, vec_col), what="knn_join query set"
    )
    id_field = corpus.schema[id_col]
    schema = StructType(
        [
            StructField("query_id", id_field.dataType, True),
            StructField("neighbor_id", id_field.dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    if not qrows:
        from pyspark.sql.types import IntegerType

        return corpus.sparkSession.createDataFrame(
            [], schema.add(StructField("rn", IntegerType(), False))
        )
    qrows.sort(key=lambda r: r[0])

    def make_score(chunk):
        qids = np.array([r[0] for r in chunk])
        qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in chunk])
        qnorms = np.sqrt(_seq_fold_dots(qmat, qmat))
        nq, dim = qmat.shape

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cids = pdf[id_col].to_numpy()
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                norms = np.sqrt(_seq_fold_dots(mat, mat))
                acc = np.zeros((mat.shape[0], nq), dtype=np.float64)
                for d in range(dim):
                    acc = acc + mat[:, d][:, None] * qmat[:, d][None, :]
                cos = acc / (norms[:, None] * qnorms[None, :])
                out_q, out_c, out_s = [], [], []
                for j in range(nq):
                    cj = cos[:, j]
                    # zero-norm vectors score NaN — EXCLUDED by contract,
                    # in the kernel, before any cut.  (NaN cannot ride
                    # through consistently: Arrow's pandas bridge turns a
                    # NaN double into SQL NULL, which the global window
                    # would then rank opposite to a batch-local NaN —
                    # result would depend on partitioning.  The SQL oracle
                    # carries the same NOT isnan(cosine) filter.)
                    valid = np.nonzero(~np.isnan(cj))[0]
                    if len(valid) > k:
                        # exact candidate cut: everything >= the k-th
                        # largest score survives, so boundary ties reach
                        # the lexsort
                        thresh = -np.partition(-cj[valid], k - 1)[k - 1]
                        cand = valid[cj[valid] >= thresh]
                    else:
                        cand = valid
                    top = cand[np.lexsort((cids[cand], -cj[cand]))][:k]
                    out_q.append(np.full(len(top), qids[j]))
                    out_c.append(cids[top])
                    out_s.append(cj[top])
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

        return score

    step = query_chunk_rows or len(qrows)
    chunks = [qrows[i:i + step] for i in range(0, len(qrows), step)]
    candidates = None
    for chunk in chunks:
        c = corpus.select(id_col, vec_col).mapInPandas(
            make_score(chunk), schema
        )
        candidates = c if candidates is None else candidates.unionAll(c)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN quality evaluation: per-query recall@k of the LSH-bucketed
    search against the exact k-NN ground truth — the report that tunes
    ``n_bits`` before committing an index layout.  Because the hyperplanes
    are frozen LCG integers, even the APPROXIMATE path is deterministic and
    oracle-checkable; recall ships as exact fixed-point, never a float.

    Shape: ground truth via ``knn_join`` (one corpus pass, no shuffle);
    the ANN side buckets the corpus in a narrow kernel and joins the
    broadcast bucketed query set (bucket equi-join prunes candidates);
    both top-k windows and the three count aggregates run over
    |Q| * k candidate rows — metadata-scale.
    """
    from pyspark.sql import Window

    exact = knn_join(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    bc = with_bucket_ids(corpus, vec_col, n_bits)
    bq = F.broadcast(
        with_bucket_ids(queries, vec_col, n_bits).select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            F.col("__bucket").alias("__qbucket"),
        )
    )
    scored = (
        bc.join(bq, F.col("__bucket") == F.col("__qbucket"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            cosine(vec_col, "__qv").alias("cosine"),
        )
        # zero-norm vectors excluded, matching knn_join's exact side and
        # the oracle's NOT isnan(cosine)
        .filter(~F.isnan("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ann = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )
    e_cnt = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    a_cnt = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    h_cnt = (
        exact.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        e_cnt.join(a_cnt, "query_id", "left")
        .join(h_cnt, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_ann"), F.lit(0).cast("long")).alias("n_ann"),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            F.expr(
                "1000000 * coalesce(n_hits, CAST(0 AS BIGINT)) DIV n_exact"
            ).alias("recall_fp"),
        )
    )


def ivf_cell_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Coarse-quantizer cell assignment (the IVF build-side half of
    ivf_ann_topk, reusable standalone): every vector gets the cell of its
    nearest centroid by cosine (ties -> smallest cell id).  Centroids are
    the first ``n_cells`` vectors by id — the deterministic training-free
    quantizer shared with the IVF read path; at scale you train k-means
    offline and broadcast it, same dataflow.  Output: (id, cell, vec
    [, meta...]) from one narrow Arrow pass; zero-norm vectors are
    dropped (no cosine exists for them).  ``meta_cols`` ride through the
    kernel untouched — the attribute-payload node table for filtered
    graph search (VERDICT r09 ask #3: ivf_pq_build's meta_cols contract
    on the graph leg)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # metadata-scale: n_cells seed rows by construction
    cent_rows = (
        embeddings.filter(
            (F.col(id_col) < n_cells)
            & F.col(vec_col).isNotNull()
            & (F.size(vec_col) > 0)
        )
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if not cent_rows:
        raise ValueError(
            f"ivf_cell_assign: no centroid rows with {id_col} < {n_cells}"
        )
    cent_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    cent_lens = {len(r[1]) for r in cent_rows}
    if len(cent_lens) != 1:
        # ragged centroids are degenerate input: np.stack would raise an
        # unhelpful shape error and the SQL oracle would silently score
        # against the first centroid's length — fail loudly and
        # symmetrically instead (the checker surfaces the error)
        raise ValueError(
            f"ivf_cell_assign: centroid rows have mixed dims {sorted(cent_lens)}"
        )
    cents = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    cnorms = np.sqrt(_seq_fold_dots(cents, cents))
    if (cnorms == 0).any():
        # a zero-norm centroid would put NaN into every cosine column and
        # silently corrupt argmax — fail loudly; pick non-degenerate
        # centroid rows (or train a quantizer) instead
        bad = cent_ids[cnorms == 0].tolist()
        raise ValueError(f"ivf_cell_assign: zero-norm centroid rows {bad}")
    dim = cents.shape[1]
    # NULL / empty / ragged vectors can't stack or score: filter to the
    # centroid dimensionality BEFORE the kernel (the SQL oracle carries
    # the same len() guard, keeping both engines' row sets identical)
    embeddings = embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )

    schema = StructType(
        [
            embeddings.schema[id_col],
            StructField("cell", LongType(), False),
            embeddings.schema[vec_col],
            *[embeddings.schema[c] for c in meta_cols],
        ]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.sqrt(_seq_fold_dots(mat, mat))
            ok = norms > 0
            if not ok.any():
                continue
            mat, norms = mat[ok], norms[ok]
            cell_cos = np.stack(
                [
                    _seq_fold_dots(mat, np.broadcast_to(cents[c], mat.shape))
                    / (norms * cnorms[c])
                    for c in range(len(cents))
                ]
            )
            cell = np.argmax(cell_cos, axis=0)  # ties -> smallest cell id
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[ok],
                    "cell": cent_ids[cell],
                    vec_col: pdf[vec_col].to_numpy()[ok],
                    **{c: pdf[c].to_numpy()[ok] for c in meta_cols},
                }
            )

    return embeddings.select(id_col, vec_col, *meta_cols).mapInPandas(
        assign, schema
    )


def block_knn_edges(
    assigned: DataFrame,
    k: int = 3,
    block_col: str = "cell",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-NODE top-k neighbor edges within each block — the kNN-GRAPH
    construction kernel (vs block_top_pairs' per-block top pairs).  One
    applyInPandas per block; for a row chunk of c nodes the kernel holds a
    (c x n) cosine buffer (c sized to the pair budget), so a hot block
    degrades to slow, never to OOM.  Edges rank by (cosine desc, nbr_id)
    — a total order.  Output: (block, id, nbr_id, rn, cosine).

    This is the build stage of an IVF-blocked kNN graph: the block column
    is the scale control (coarse cells here; at 100 TB multi-probe
    assignment trades edge recall for block locality, same kernel).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    elem_budget = _PAIR_ELEM_BUDGET

    schema = StructType(
        [
            assigned.schema[block_col],
            assigned.schema[id_col],
            StructField("nbr_id", assigned.schema[id_col].dataType, True),
            StructField("rn", IntegerType(), False),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def knn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {c.name: pd.Series(dtype="object") for c in schema.fields}
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt(_seq_fold_dots(mat, mat))
        chunk = max(1, elem_budget // n)
        out_id, out_nbr, out_rn, out_cos = [], [], [], []
        kk = min(k, n - 1)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            # (c x n) sequential-fold dots: same per-pair fold order as
            # the SQL oracle, vectorized across the buffer
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for d in range(mat.shape[1]):
                acc = acc + mat[lo:hi, d, None] * mat[None, :, d]
            cos = acc / (norms[lo:hi, None] * norms[None, :])
            for r in range(hi - lo):
                row = cos[r].copy()
                row[lo + r] = -np.inf  # no self edge
                sel = np.lexsort((ids, -row))[:kk]
                out_id.extend([ids[lo + r]] * kk)
                out_nbr.extend(ids[sel])
                out_rn.extend(range(1, kk + 1))
                out_cos.extend(row[sel])
        return pd.DataFrame(
            {
                block_col: pdf[block_col].iloc[0],
                id_col: out_id,
                "nbr_id": out_nbr,
                "rn": np.array(out_rn, dtype=np.int32),
                "cosine": out_cos,
            }
        )

    return (
        assigned.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(knn, schema)
    )


def graph_beam_search(
    nodes: DataFrame,
    edges: DataFrame,
    query: DataFrame,
    k: int = 10,
    beam: int = 4,
    hops: int = 3,
    n_entry: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Graph-ANN READ path — deterministic beam search over a kNN graph
    (the HNSW/NSG search primitive), completing the index trilogy
    LSH / IVF-PQ / graph the way ivf_ann_topk completed IVF (VERDICT r05
    ask #5).

    Walk: entry set = the graph nodes with ``id < n_entry`` (the same ids
    the deterministic quantizer uses as centroids — fixed, storable entry
    points); each hop takes the best-``beam`` visited nodes by
    (cosine DESC, id ASC) — a TOTAL order, so even the walk itself is
    hash-checkable — expands their out-edges, scores the neighbors
    against the query, and merges them into the visited set; after
    ``hops`` rounds the answer is the top-``k`` of everything visited.
    Bounded hops (not walk-to-convergence) keep the oracle expressible:
    the walk unrolls into chained SQL CTEs.

    Scale shape: the search touches O(beam * degree * hops) node ids —
    metadata-scale frontiers flowing through broadcast joins; the corpus
    is only ever probed BY ID to fetch candidate vectors (at 100 TB the
    node table is bucketed/sorted by id, so each probe is a point-lookup
    scan, and the graph edge table is bucketed by source id — the layout
    a graph-ANN serving tier ships).  Scoring is the same sequential
    double fold as every other cosine in the engine, so Spark and the
    oracle agree bit-for-bit.
    """
    visited = graph_beam_visited(
        nodes, edges, query, beam=beam, hops=hops, n_entry=n_entry,
        id_col=id_col, vec_col=vec_col,
    )
    return visited.orderBy(F.desc("cosine"), F.col(id_col).asc()).limit(k)


def graph_beam_visited(
    nodes: DataFrame,
    edges: DataFrame,
    query: DataFrame,
    beam: int = 4,
    hops: int = 3,
    n_entry: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The beam walk's VISITED set (``(id, cosine)`` for every node the
    walk scored) — :func:`graph_beam_search` is its top-k; the beam-width
    tuning curve reads it directly because |visited| IS the walk's cost
    axis (node fetches + scores)."""
    q = F.broadcast(query.select(F.col(vec_col).alias("__qv")))

    def score(cand_nodes: DataFrame) -> DataFrame:
        return cand_nodes.crossJoin(q).select(
            id_col,
            cosine(vec_col, "__qv").alias("cosine"),
        )

    out_edges = edges.select(id_col, "nbr_id")
    visited = score(nodes.where(F.col(id_col) < n_entry))
    for _ in range(hops):
        frontier = visited.orderBy(
            F.desc("cosine"), F.col(id_col).asc()
        ).limit(beam)
        nbr_ids = (
            out_edges.join(
                F.broadcast(frontier.select(id_col)), id_col
            )
            .select(F.col("nbr_id").alias(id_col))
            .distinct()
        )
        fresh = score(nodes.join(F.broadcast(nbr_ids), id_col))
        # duplicates carry identical (id, cosine) rows — the same vector
        # scored by the same fold — so the row-level dedup is exact.
        # materialized() per hop: visited feeds BOTH the next frontier
        # (limit) and the next union, so without a barrier the unexecuted
        # plan roughly doubles per hop (ADVICE r06) — same
        # localCheckpoint-per-round discipline as bpe_train and
        # connected_components.
        visited = materialized(
            visited.unionByName(fresh).dropDuplicates([id_col])
        )
    return visited


def graph_beam_search_batch(
    nodes: DataFrame,
    edges: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 4,
    hops: int = 3,
    n_entry: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    harvest_where=None,
) -> DataFrame:
    """Beam walk PER QUERY over a query SET (VERDICT r07 ask #3) — the
    batched twin of :func:`graph_beam_search`, same entry points, beam,
    hop count, and total orders, with every walk state keyed by
    (query_id, node id):

      * the per-hop ``limit beam`` becomes a row_number window partitioned
        by query id — the frontier CUT is per query, so each query's walk
        is EXACTLY the walk the single-query operator takes (pinned by
        test against per-query graph_beam_search runs);
      * frontiers/neighbor sets stay metadata-scale — O(|Q| * beam *
        degree) ids per hop — and ride broadcast joins; the node table is
        only ever probed BY ID, and one probe serves all queries that
        requested the node (the thousand-queries-one-index shape the
        artifact store exists for);
      * scoring is the same Catalyst sequential fold, so the batch
        hash-checks against the unrolled per-query CTE oracle.

    FILTERED (hybrid) search (VERDICT r09 ask #3): ``meta_cols`` ride
    from the attribute-payload node table through every walk state, and
    ``harvest_where`` filters the VISITED set before the final top-k —
    the traversal itself stays predicate-blind (filtering the graph
    would disconnect it; filtered-DiskANN's harvest-side discipline), so
    a 'top-k WHERE label' serve needs zero joins: the label is already
    on every scored row.

    Output: (query_id, id, cosine, rn), rn = 1..k per query.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col(id_col).asc()
    )
    out_edges = edges.select(id_col, "nbr_id")
    visited = (
        nodes.where(F.col(id_col) < n_entry)
        .crossJoin(q)
        .select(
            "query_id",
            id_col,
            *meta_cols,
            cosine(vec_col, "__qv").alias("cosine"),
        )
    )
    for _ in range(hops):
        frontier = (
            visited.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= beam)
            .select("query_id", id_col)
        )
        nbr_ids = (
            out_edges.join(F.broadcast(frontier), id_col)
            .select("query_id", F.col("nbr_id").alias(id_col))
            .distinct()
        )
        fresh = (
            nodes.join(F.broadcast(nbr_ids), id_col)
            .join(q, "query_id")
            .select(
                "query_id",
                id_col,
                *meta_cols,
                cosine(vec_col, "__qv").alias("cosine"),
            )
        )
        # identical (query_id, id) rows carry identical cosines (same
        # vector, same fold), so the dedup is exact; materialized() per
        # hop for the same plan-doubling reason as the single-query walk
        visited = materialized(
            visited.unionByName(fresh).dropDuplicates(["query_id", id_col])
        )
    if harvest_where is not None:
        visited = visited.where(harvest_where)
    return (
        visited.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "cosine", "rn")
    )


def mmr_rerank(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    k_candidates: int = 20,
    lam: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998)
    — the diversity-aware READ path a retrieval pipeline runs on top of
    ANN: fetch ``k_candidates`` by relevance, then greedily pick ``k``
    maximizing ``lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)``,
    ties by id.  Deterministic end to end, so the whole re-rank
    hash-checks against an unrolled SQL oracle.  The default lambda is
    DYADIC (0.75 -> penalty 0.25, both exact doubles) so the score
    arithmetic is literal-for-literal identical across engines — a
    decimal-parsed ``0.7`` gives SQL a different (1 - lambda) ulp than
    Python's (the repo's dyadic-constants discipline, see ema_prices).

    Scale shape: the candidate fetch is the distributed stage (exact
    TakeOrdered here; swap in any ANN read path — LSH/IVF-PQ/graph — for
    the same contract); the greedy selection touches only the
    ``k_candidates`` collected rows — metadata-scale by construction,
    the same driver-side contract as centroids/offsets/codebooks.  All
    similarity arithmetic is the engine's sequential double fold, in
    Python here and in Catalyst/DuckDB elsewhere — bit-identical.

    Returns (rank, id, relevance, mmr_score); rank 1's score is its
    relevance times ``lam`` (empty selected set contributes no penalty).
    """
    # metadata-scale: k_candidates top-k rows (cosine_topk limit)
    cands = (
        cosine_topk(embeddings, query, k_candidates, id_col, vec_col)
        .join(embeddings.select(id_col, vec_col), id_col)
        .collect()
    )

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    import math

    # zero-norm guard (ADVICE r06): a degenerate all-zero embedding gets a
    # NULL cosine from the engine (0/0 guarded to NULL), and SQL's
    # NULLS-LAST descending order excludes it from any top-k that has
    # enough finite candidates — mirror that by dropping NULL-relevance
    # rows from the pool instead of crashing on float(None).
    pool = [
        (r[id_col], float(r["cosine"]), [float(v) for v in r[vec_col]])
        for r in cands
        if r["cosine"] is not None
    ]
    norms = {i: math.sqrt(fold_dot(v, v)) for i, _, v in pool}
    selected: list[tuple[int, int, float, float]] = []  # rank, id, rel, score
    chosen: list[tuple[object, list[float]]] = []
    remaining = {i: (rel, v) for i, rel, v in pool}
    for rank in range(1, min(k, len(pool)) + 1):
        best = None
        for i in sorted(remaining):
            rel, v = remaining[i]
            maxsim = 0.0
            first = True
            for sid, sv in chosen:
                # zero-norm guard (ADVICE r06): a degenerate all-zero
                # embedding has no direction, so its similarity to
                # anything is taken as 0.0 (no diversity penalty) rather
                # than raising ZeroDivisionError mid-greedy-loop.
                denom = norms[i] * norms[sid]
                sim = fold_dot(v, sv) / denom if denom != 0.0 else 0.0
                if first or sim > maxsim:
                    maxsim, first = sim, False
            score = lam * rel - (1 - lam) * maxsim if chosen else lam * rel
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, rel, score)
        _, bid, brel, bscore = best
        selected.append((rank, bid, brel, bscore))
        chosen.append((bid, remaining[bid][1]))
        del remaining[bid]

    spark = embeddings.sparkSession
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        selected,
        f"rank int, {id_col} {id_type}, relevance double, mmr_score double",
    )


def contrastive_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k_pos: int = 1,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchor_rows: int | None = None,
) -> DataFrame:
    """Contrastive training-pair construction: for every anchor, its
    nearest SAME-label neighbors (the positives, self excluded) and its
    nearest DIFFERENT-label neighbors (the hard negatives) in one exact
    pass — the (anchor, positive, hard-negative) triplet miner behind
    contrastive embedding training (SimCSE/DPR-style), where negatives
    that score HIGH despite carrying the wrong label are exactly the
    pairs worth training on.

    Distributed shape: ``knn_join``'s economics with a label mask — the
    anchor set rides to every task as a dense float64 matrix plus a label
    vector (broadcast contract), the corpus streams through the Arrow
    kernel ONCE for both roles, and each batch emits only its local
    top-k per (anchor, role).  The global exact cut is a window over
    |batches| * |A| * (k_pos + k_neg) candidate rows — metadata-scale.
    No corpus shuffle; the only exchange is the candidate aggregation.

    CHUNKED-ANCHOR PATH (VERDICT r10 ask #6): the anchor set is the one
    "small side" here that legitimately grows with the corpus (a
    ``vec_id % 50`` mining rule is 2% of everything), so past
    ``max_anchor_rows`` (default ``DEFAULT_MAX_BROADCAST_ROWS``) the
    operator does NOT collect it whole — it pages through the anchors in
    id-ordered keyset blocks of that size, runs the identical kernel per
    block, and unions the per-block candidates before the single global
    window cut.  Same exact result (blocks partition the anchors and the
    cut is per-anchor), |blocks| corpus passes instead of an unbounded
    driver matrix — the caller chooses the memory/pass trade by setting
    the bound.

    Numeric parity: per-pair cosine is the same sequential dimension fold
    as ``knn_join`` (bit-identical to the DuckDB list_reduce fold);
    batch-local cuts use the global total order (cosine desc, neighbor id
    asc) with an exact >=-threshold guard; zero-norm vectors (NaN cosine)
    are excluded by contract on both engines.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

    from .driverside import DEFAULT_MAX_BROADCAST_ROWS

    if max_anchor_rows is None:
        max_anchor_rows = DEFAULT_MAX_BROADCAST_ROWS
    anchor_sel = anchors.select(id_col, label_col, vec_col)
    id_field = corpus.schema[id_col]
    schema = StructType(
        [
            StructField("anchor_id", id_field.dataType, True),
            StructField("role", StringType(), True),
            StructField("neighbor_id", id_field.dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    # empty-path schema in the SAME field order as the non-empty select
    # (rn third) — ADVICE r10 #1: a positional consumer must see one order
    out_schema = StructType(
        [
            schema["anchor_id"],
            schema["role"],
            StructField("rn", IntegerType(), False),
            schema["neighbor_id"],
            schema["cosine"],
        ]
    )
    n_anchors = anchor_sel.count()
    if n_anchors == 0:
        return corpus.sparkSession.createDataFrame([], out_schema)
    role_k = (("pos", k_pos), ("neg", k_neg))

    def block_candidates(arows):
        """The broadcast kernel over ONE anchor block: |block| anchors
        ride to every task; one corpus pass emits batch-local top-k
        candidates per (anchor, role)."""
        arows.sort(key=lambda r: r[0])
        aids = np.array([r[0] for r in arows])
        alabels = np.array([r[1] for r in arows])
        amat = np.stack([np.asarray(r[2], dtype=np.float64) for r in arows])
        anorms = np.sqrt(_seq_fold_dots(amat, amat))
        na, dim = amat.shape

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cids = pdf[id_col].to_numpy()
                clabels = pdf[label_col].to_numpy()
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                norms = np.sqrt(_seq_fold_dots(mat, mat))
                acc = np.zeros((mat.shape[0], na), dtype=np.float64)
                for d in range(dim):
                    acc = acc + mat[:, d][:, None] * amat[:, d][None, :]
                cos = acc / (norms[:, None] * anorms[None, :])
                out_a, out_r, out_c, out_s = [], [], [], []
                for j in range(na):
                    cj = cos[:, j]
                    same = clabels == alabels[j]
                    not_nan = ~np.isnan(cj)
                    for role, k in role_k:
                        if role == "pos":
                            cand0 = np.nonzero(
                                not_nan & same & (cids != aids[j])
                            )[0]
                        else:
                            cand0 = np.nonzero(not_nan & ~same)[0]
                        if len(cand0) > k:
                            thresh = -np.partition(-cj[cand0], k - 1)[k - 1]
                            cand = cand0[cj[cand0] >= thresh]
                        else:
                            cand = cand0
                        top = cand[np.lexsort((cids[cand], -cj[cand]))][:k]
                        out_a.append(np.full(len(top), aids[j]))
                        out_r.extend([role] * len(top))
                        out_c.append(cids[top])
                        out_s.append(cj[top])
                yield pd.DataFrame(
                    {
                        "anchor_id": np.concatenate(out_a),
                        "role": out_r,
                        "neighbor_id": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

        return corpus.select(id_col, label_col, vec_col).mapInPandas(
            score, schema
        )

    if n_anchors <= max_anchor_rows:
        # broadcast path: one collect, one corpus pass (today's plan)
        # metadata-scale: anchors <= max_anchor_rows here (bound checked above)
        candidates = block_candidates(anchor_sel.collect())
    else:
        # chunked-anchor path: id-ordered keyset pagination — each block
        # is a bounded collect (orderBy + limit = TakeOrdered, never a
        # full driver materialization) and one corpus pass; blocks
        # partition the anchor set, so the per-anchor window cut below
        # is exact regardless of blocking.
        #
        # Keyset pagination advances with strict `id > last_id`, so a
        # duplicate anchor id straddling a block boundary would be
        # silently dropped (the broadcast path keeps duplicates) —
        # unique anchor ids are a PRECONDITION of this path, enforced
        # here with one aggregate job (ADVICE r11 #2).
        n_distinct = anchor_sel.select(id_col).distinct().count()
        if n_distinct != n_anchors:
            raise ValueError(
                f"contrastive_topk: chunked-anchor path requires unique "
                f"anchor {id_col}s ({n_anchors} rows, {n_distinct} "
                f"distinct) — dedupe the anchor frame or raise "
                f"max_anchor_rows to use the broadcast path"
            )
        candidates = None
        last_id = None
        while True:
            blk_df = anchor_sel
            if last_id is not None:
                blk_df = blk_df.where(F.col(id_col) > last_id)
            blk = (
                blk_df.orderBy(F.col(id_col).asc())
                .limit(max_anchor_rows)
                .collect()
            )
            if not blk:
                break
            # EAGER localCheckpoint per block (ADVICE r11 #1): execute
            # the block's corpus pass NOW and keep only its candidate
            # rows (block-manager storage, lineage truncated), so the
            # per-block numpy matrices captured in the kernel closure
            # are released before the next block is collected — driver
            # and task-closure footprint stay O(one block), not
            # O(total anchors), which is the whole point of chunking.
            # |blocks| corpus passes either way (documented trade).
            blk_cands = block_candidates(blk).localCheckpoint(eager=True)
            candidates = (
                blk_cands
                if candidates is None
                else candidates.unionByName(blk_cands)
            )
            last_id = blk[-1][0]
            if len(blk) < max_anchor_rows:
                break

    w = Window.partitionBy("anchor_id", "role").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("role") == "pos") & (F.col("rn") <= k_pos)
            | (F.col("role") == "neg") & (F.col("rn") <= k_neg)
        )
        .select("anchor_id", "role", "rn", "neighbor_id", "cosine")
    )


def prefix_dim_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension-truncation tuning table: recall@k of
    brute-force search over each PREFIX of the embedding (first d dims,
    MRL's nesting — Kusupati et al. 2022) against the full-dimension
    exact top-k.  The table that answers "how many dims can serve-time
    search drop" BEFORE committing a truncated index layout — the
    ivf_pq_probe_curve / semdedup_threshold_curve discipline applied to
    the dimension axis.

    Distributed shape: ONE corpus pass scores EVERY truncation level —
    a truncated dot is a prefix of the sequential dimension fold, so the
    kernel snapshots its running accumulators (dot + both squared norms)
    at each requested d instead of rescanning; each batch emits its
    local top-k per (query, dim).  The global cut is a window over
    |batches| * |Q| * |dims| * k rows, and the recall join + census are
    |Q| * |dims| * k — metadata-scale.  No corpus shuffle.

    Numeric parity: the prefix-snapshot trick is exactly why the oracle
    matches bit-for-bit — the SQL side folds over the SLICED list
    (cv[1:d]), which performs the same adds in the same order as the
    kernel's first d iterations.  Zero-norm prefixes (NaN cosine)
    excluded by contract on both engines.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    assert sorted(dims) == list(dims), "dims must be ascending"
    full_dim = dims[-1]
    from .driverside import collect_bounded

    # bounded by contract (the knn_join query-set rule)
    qrows = collect_bounded(
        queries.select(id_col, vec_col), what="prefix_dim_recall query set"
    )
    id_field = corpus.schema[id_col]
    schema = StructType(
        [
            StructField("query_id", id_field.dataType, True),
            StructField("dim", IntegerType(), True),
            StructField("neighbor_id", id_field.dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    spark = corpus.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [],
            "dim int, n_hits long, n_exact long, recall_ppm long",
        )
    qrows.sort(key=lambda r: r[0])
    qids = np.array([r[0] for r in qrows])
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    nq = qmat.shape[0]
    assert qmat.shape[1] == full_dim, (
        f"dims[-1]={full_dim} must equal the embedding dim {qmat.shape[1]}"
    )
    dimset = set(dims)
    # query-side prefix norms, same sequential fold as the kernel below
    qn_at = {}
    qacc = np.zeros(nq, dtype=np.float64)
    for d in range(full_dim):
        qacc = qacc + qmat[:, d] * qmat[:, d]
        if d + 1 in dimset:
            qn_at[d + 1] = np.sqrt(qacc)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nb = mat.shape[0]
            acc = np.zeros((nb, nq), dtype=np.float64)
            cacc = np.zeros(nb, dtype=np.float64)
            out_q, out_d, out_c, out_s = [], [], [], []
            for d in range(full_dim):
                acc = acc + mat[:, d][:, None] * qmat[:, d][None, :]
                cacc = cacc + mat[:, d] * mat[:, d]
                if d + 1 not in dimset:
                    continue
                cos = acc / (np.sqrt(cacc)[:, None] * qn_at[d + 1][None, :])
                for j in range(nq):
                    cj = cos[:, j]
                    valid = np.nonzero(~np.isnan(cj))[0]
                    if len(valid) > k:
                        thresh = -np.partition(-cj[valid], k - 1)[k - 1]
                        cand = valid[cj[valid] >= thresh]
                    else:
                        cand = valid
                    top = cand[np.lexsort((cids[cand], -cj[cand]))][:k]
                    out_q.append(np.full(len(top), qids[j]))
                    out_d.append(np.full(len(top), d + 1, dtype=np.int32))
                    out_c.append(cids[top])
                    out_s.append(cj[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "dim": np.concatenate(out_d),
                    "neighbor_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    candidates = corpus.select(id_col, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    # |Q| * |dims| * k rows feeding THREE consumers (exact leg, hit join,
    # exact-count census) — materialize so the kernel pass runs once
    topk = materialized(
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "dim", "neighbor_id")
    )
    exact = (
        topk.filter(F.col("dim") == full_dim)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    flagged = topk.join(exact, ["query_id", "neighbor_id"], "left")
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        flagged.groupBy("dim")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"))
        .crossJoin(F.broadcast(tot))
        .select(
            "dim",
            "n_hits",
            "n_exact",
            F.expr("1000000 * n_hits DIV n_exact").alias("recall_ppm"),
        )
        .orderBy("dim")
    )
