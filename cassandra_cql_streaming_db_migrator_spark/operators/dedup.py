"""Deduplication operators — exact, MinHash+LSH, SimHash (SURVEY §7.2.6).

Beyond the reference's surface: the north-star LLM-data-pipeline ops
(BASELINE.json:6).  The per-document kernels (MinHash signatures, SimHash
fingerprints, n-gram hash sets) are numpy passes over Arrow batches
(functions.fast_hash); the bucketing, joins and verification around them
are Catalyst.  tests/catalyst_reference.py holds pure-Catalyst reference
forms of the kernels that the tests check them against.

Scale design (100 TB of documents):
  * exact dedup — hash-groupBy on the content: one shuffle keyed by text;
    at scale, group by a 256-bit digest instead of the raw text so the
    shuffle carries 32 bytes/row, not the document.
  * MinHash LSH — per-row signature (narrow, codegen'd), explode to
    (band, band_signature) buckets, self-join within buckets.  Candidate
    generation cost is O(sum of bucket^2) not O(n^2); a pathological bucket
    (thousands of identical docs) is a skew key — AQE skew-join handles
    moderate cases, and the band signature includes the band index so
    buckets from different bands never merge.
  * SimHash — one 53-bit fingerprint per doc; near-dup candidates share
    fingerprint prefixes (block on a prefix, compare hamming distance
    within block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..functions.hashing import MINHASH_PERMS
from .caching import materialized


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per distinct content value; report group size.
    Deterministic winner (min id), unlike dropDuplicates (first-seen)."""
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )


def minhash_signature_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
) -> DataFrame:
    """(id, sig array<long>) minhash signatures from the numpy kernel over
    Arrow batches (functions.fast_hash.minhash_signatures) — one C-speed
    pass per batch.

    The id repartition spreads the Python work across cores when the
    source has few input splits.  At 100 TB the input has thousands of
    splits and the repartition can be dropped.
    """
    import pandas as pd

    from ..functions.fast_hash import minhash_signatures

    schema = StructType(
        [df.schema[id_col], StructField("sig", ArrayType(LongType()), False)]
    )

    def compute(batches):
        for pdf in batches:
            sigs = minhash_signatures(pdf[text_col].tolist(), shingle_len)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "sig": list(sigs)})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .mapInPandas(compute, schema)
    )


def _band_signature_cols(bands: int) -> list:
    """One string column per LSH band: the band's signature slots joined
    with '-' (shared by the pair join and the bucket diagnostics, so both
    see identical buckets)."""
    rows_per_band = len(MINHASH_PERMS) // bands
    # single-parse SQL build (functions.sqlexpr rationale): these columns
    # are rebuilt per query AND per streaming probe microbatch
    return [
        F.expr(
            "concat_ws('-', "
            + ", ".join(
                f"CAST(sig[{j}] AS STRING)"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            )
            + ")"
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def lsh_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 5,
    bands: int = 4,
) -> DataFrame:
    """Per-band LSH bucket diagnostics: bucket count, docs bucketed, the
    LARGEST bucket, and the implied candidate-pair count Σ b·(b-1)/2 —
    the numbers that decide whether a banding survives at scale (the
    bucket self-join is quadratic in the hottest bucket, so `max_bucket`
    / `candidate_pairs` are exactly what an operator review of a new
    corpus asks for BEFORE running the pair join).

    Shape: signature kernel (narrow) -> one shuffle on (band, band_sig)
    -> metadata-scale per-band rollup.  Integer-only output.
    """
    signed = minhash_signature_df(df, text_col, id_col, shingle_len)
    exploded = signed.select(
        F.posexplode(F.array(*_band_signature_cols(bands))).alias(
            "band_idx", "band_sig"
        )
    )
    buckets = exploded.groupBy("band_idx", "band_sig").agg(
        F.count(F.lit(1)).alias("b")
    )
    return buckets.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("b").alias("n_docs"),
        F.max("b").alias("max_bucket"),
        F.sum(F.expr("b * (b - 1) DIV 2")).alias("candidate_pairs"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Output: (id_1, id_2, est_jaccard) where the pair shared >= 1 LSH band
    and est_jaccard = fraction of equal signature slots.  id_1 < id_2.
    """
    n_perms = len(MINHASH_PERMS)
    # The signature table feeds BOTH sides of the bucket self-join; without
    # a barrier each branch re-executes the whole signature pipeline
    # (scan + shuffle + kernel, twice).  Signatures are id + 16 longs
    # (~150 B/doc — ~150 GB per 10^9 docs, MEMORY_AND_DISK spills fine),
    # vastly smaller than recomputing from the corpus.
    signed = materialized(minhash_signature_df(df, text_col, id_col, shingle_len))
    exploded = signed.select(
        id_col,
        "sig",
        F.posexplode(F.array(*_band_signature_cols(bands))).alias(
            "band_idx", "band_sig"
        ),
    )
    left = exploded.select(
        F.col(id_col).alias("id_1"), F.col("sig").alias("sig_1"), "band_idx", "band_sig"
    )
    right = exploded.select(
        F.col(id_col).alias("id_2"), F.col("sig").alias("sig_2"), "band_idx", "band_sig"
    )
    pairs = (
        left.join(right, on=["band_idx", "band_sig"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", "sig_1", "sig_2")
        .dropDuplicates(["id_1", "id_2"])
    )
    matches = F.expr(
        "size(filter(zip_with(sig_1, sig_2, (_lx, _ly) -> _lx = _ly), "
        "_lv -> _lv))"
    )
    return pairs.select(
        F.col("id_1").alias(f"{id_col}_1"),
        F.col("id_2").alias(f"{id_col}_2"),
        (matches / F.lit(float(n_perms))).alias("est_jaccard"),
    )


def fuzzy_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    est_threshold: float = 0.5,
    jaccard_threshold: float = 0.7,
    shingle_len: int = 5,
    ngram_len: int = 3,
    bands: int = 4,
) -> DataFrame:
    """The production-shaped fuzzy dedup pipeline: MinHash-LSH candidate
    generation -> exact n-gram Jaccard verification, in one lineage.

    Blocked brute-force Jaccard (textops.ngram_jaccard_pairs) is exact but
    O(pairs-per-block); on adversarial data (many same-length docs) that is
    quadratic.  This operator bounds the exact-verification work by the LSH
    candidate count: pairs must share >= 1 signature band AND have estimated
    jaccard >= ``est_threshold`` before the (expensive) exact intersect
    runs.  Recall is governed by the LSH parameters, precision by the final
    exact threshold — the standard large-corpus dedup architecture.
    """
    candidates = minhash_lsh_pairs(df, text_col, id_col, shingle_len, bands).filter(
        F.col("est_jaccard") >= F.lit(est_threshold)
    )
    # joined against both pair sides below — materialized for the same
    # reason the minhash signatures are; the id repartition spreads the
    # kernel like minhash_signature_df's
    gram_sets = materialized(
        cross_gram_sets(
            df.select(F.col(id_col), F.col(text_col)).repartition(F.col(id_col)),
            "doc",
            text_col,
            id_col,
            ngram_len,
        )
    )
    joined = (
        candidates.join(
            gram_sets.select(F.col("__gid_doc"), F.col("g_doc").alias("g1")),
            candidates[f"{id_col}_1"] == F.col("__gid_doc"),
        )
        .drop("__gid_doc")
        .join(
            gram_sets.select(F.col("__gid_doc"), F.col("g_doc").alias("g2")),
            F.col(f"{id_col}_2") == F.col("__gid_doc"),
        )
        .drop("__gid_doc")
    )
    inter = F.size(F.array_intersect("g1", "g2"))
    union = F.size("g1") + F.size("g2") - inter
    return (
        joined.select(
            f"{id_col}_1",
            f"{id_col}_2",
            "est_jaccard",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
    )


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_dist: int = 1,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= ``max_dist`` over the
    53-bit SimHash, via banded Hamming LSH (Charikar's dedup read path —
    the text-side sibling of the image pipeline's hamming_near_pairs):
    the 53 bits split into exactly ``max_dist + 1`` bands (the pigeonhole
    minimum — any pair within distance d differs in at most d bands, so
    with d+1 bands at least one band matches exactly), making each band
    as WIDE and therefore as selective as the guarantee allows; a plain
    hash equi-join on (band, value) finds every qualifying pair — never
    the quadratic all-pairs — and the exact XOR popcount verify rejects
    band collisions.  Bands come from div/mod by powers of two (portable,
    no shift builtins); values stay non-negative 53-bit longs, so XOR
    never touches the sign bit on any engine.

    Scale shape: max_dist+1 rows per doc shuffle once on the band key;
    candidate volume is band-bucket collisions (wider bands = fewer).
    A pair sharing several bands is emitted ONLY from its first matching
    band (the standard LSH dedup trick: band i emits iff every band
    below i differs) — no distinct pass, no extra shuffle.
    Returns (doc_id_1, doc_id_2, dist), canonical id_1 < id_2.
    """
    n_bands = max_dist + 1
    if not 1 <= n_bands <= 53:
        raise ValueError(f"max_dist must be in [0, 52]; got {max_dist}")

    bands = fingerprints.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), val.alias("val"))
                    for i, val in _simhash_band_exprs(hash_col, n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, hash_col, "bv.band", "bv.val")
    a = bands.select(
        F.col(id_col).alias("id_1"),
        F.col(hash_col).alias("__ha"),
        "band",
        "val",
    )
    b = bands.select(
        F.col(id_col).alias("id_2"),
        F.col(hash_col).alias("__hb"),
        "band",
        "val",
    )
    a_band = dict(_simhash_band_exprs("__ha", n_bands))
    b_band = dict(_simhash_band_exprs("__hb", n_bands))
    first_match = F.lit(True)
    for i in range(n_bands - 1):
        first_match = first_match & F.when(
            F.col("band") > i,
            a_band[i] != b_band[i],
        ).otherwise(F.lit(True))
    dist = F.bit_count(F.expr("__ha ^ __hb")).cast("int")
    return (
        a.join(b, on=["band", "val"])
        .where(F.col("id_1") < F.col("id_2"))
        .where(first_match)
        .select(
            F.col("id_1").alias("doc_id_1"),
            F.col("id_2").alias("doc_id_2"),
            dist.alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def _simhash_band_exprs(hash_col: str, n_bands: int):
    """The 53-bit fingerprint's band decomposition shared by the pair
    join, the diagnostic, and the capped fallback: ``n_bands`` div/mod
    slices of width ceil(53 / n_bands) (the last band narrower).
    Returns a list of (band_index, value_column) pairs."""
    width = (53 + n_bands - 1) // n_bands
    h = F.col(hash_col)
    out = []
    for i in range(n_bands):
        shifted = (h / F.lit(2 ** (i * width)).cast("long")).cast("long")
        val = (
            shifted
            if i == n_bands - 1
            else shifted % F.lit(2**width).cast("long")
        )
        out.append((i, val))
    return out


def simhash_band_stats(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    n_bands: int = 2,
) -> DataFrame:
    """Per-band bucket diagnostics over the SimHash banding —
    ``lsh_band_stats``'s sibling on the Hamming-LSH side (VERDICT r09
    watch #1: size the band-collision risk BEFORE it bites): bucket
    count, docs bucketed, the LARGEST bucket, and the implied candidate
    count Σ b·(b-1)/2 per band.  The bucket self-join is quadratic in
    the hottest bucket, so ``max_bucket`` / ``candidate_pairs`` are
    exactly the numbers that decide between the pigeonhole-minimum
    banding, a narrower-band scheme, and the capped fallback
    (:func:`simhash_near_pairs_capped`) on a new corpus.

    Shape: one shuffle on (band, value), then a metadata-scale per-band
    rollup.  Integer-only output:
    (band_idx, n_buckets, n_docs, max_bucket, candidate_pairs)."""
    bands = fingerprints.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), val.alias("val")
                    )
                    for i, val in _simhash_band_exprs(hash_col, n_bands)
                ]
            )
        ).alias("bv")
    ).select("bv.band", "bv.val")
    buckets = bands.groupBy("band", "val").agg(F.count(F.lit(1)).alias("b"))
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("b").alias("n_docs"),
        F.max("b").alias("max_bucket"),
        F.sum(F.expr("b * (b - 1) DIV 2")).alias("candidate_pairs"),
    ).select(
        F.col("band").cast("int").alias("band_idx"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("max_bucket").cast("long").alias("max_bucket"),
        F.col("candidate_pairs").cast("long").alias("candidate_pairs"),
    )


def simhash_near_pairs_capped(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_dist: int = 1,
    bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """The DENSE-BUCKET fallback for :func:`simhash_near_pairs` (VERDICT
    r09 watch #1): band buckets larger than ``bucket_cap`` are EXCLUDED
    from the candidate self-join — bounding the join's output at
    cap² per bucket no matter how pathologically the corpus clusters in
    simhash space — and reported in an OVERFLOW CENSUS instead of
    silently truncated.  A qualifying pair whose only matching band
    overflowed is missed; the census (band, value, bucket size) is
    exactly what quantifies that recall risk, and when every qualifying
    pair also matches in a non-overflowing band (the common regime:
    distance-d pairs match in a band wherever their differing bits
    are NOT), the capped result is value-identical to the uncapped one
    (pytest-pinned on a crafted dense fixture).

    Emission uses a pair-distinct pass rather than the first-matching-
    band trick — with buckets dropping out, "first matching band" is no
    longer well-defined across engines.  Returns (pairs, overflow):
    pairs = (doc_id_1, doc_id_2, dist) with id_1 < id_2;
    overflow = (band, val, bucket_size)."""
    n_bands = max_dist + 1
    if not 1 <= n_bands <= 53:
        raise ValueError(f"max_dist must be in [0, 52]; got {max_dist}")
    bands = fingerprints.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), val.alias("val"))
                    for i, val in _simhash_band_exprs(hash_col, n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, hash_col, "bv.band", "bv.val")
    sizes = bands.groupBy("band", "val").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    overflow = sizes.where(F.col("bucket_size") > bucket_cap).select(
        "band", "val", F.col("bucket_size").cast("long").alias("bucket_size")
    )
    # keep only rows of non-overflowing buckets: the size table is
    # bucket-cardinality (metadata next to the corpus) and the join is on
    # the same (band, val) key the bucket shuffle already produced
    kept = bands.join(
        sizes.where(F.col("bucket_size") <= bucket_cap).select("band", "val"),
        ["band", "val"],
    )
    a = kept.select(
        F.col(id_col).alias("id_1"), F.col(hash_col).alias("__ha"),
        "band", "val",
    )
    b = kept.select(
        F.col(id_col).alias("id_2"), F.col(hash_col).alias("__hb"),
        "band", "val",
    )
    dist = F.bit_count(F.expr("__ha ^ __hb")).cast("int")
    pairs = (
        a.join(b, on=["band", "val"])
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", dist.alias("dist"))
        .where(F.col("dist") <= max_dist)
        .dropDuplicates(["id_1", "id_2"])
        .select(
            F.col("id_1").alias("doc_id_1"),
            F.col("id_2").alias("doc_id_2"),
            "dist",
        )
    )
    return pairs, overflow


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Table-level 53-bit SimHash, one numpy pass per Arrow batch
    (functions.fast_hash.simhash_values)."""
    import pandas as pd

    from ..functions.fast_hash import simhash_values

    schema = StructType(
        [df.schema[id_col], StructField("simhash", LongType(), False)]
    )

    def compute(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "simhash": simhash_values(pdf[text_col].tolist()),
                }
            )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .mapInPandas(compute, schema)
    )


def connected_components(
    pairs: DataFrame, id_a: str, id_b: str, id_col: str = "doc_id", max_iter: int = 50
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step that
    turns pairwise dedup output into actionable clusters (component id =
    min member id, the canonical-document convention; everything else in a
    component is a removal candidate).

    Pregel-style min-label propagation: each node repeatedly takes the
    minimum label among itself and its neighbors; converges in
    O(component diameter) rounds, and near-dup components are small and
    dense (every member shares shingles), so diameters are tiny.  The
    driver loop's per-round convergence check is a ``count`` (a
    metadata-scale action, not a data collect); each round is one
    edge<->label join plus one aggregate, both partitioned on the node id.
    Each round's labels are ``localCheckpoint``-ed — the standard iterative
    -algorithm discipline: lineage (and therefore the final plan) stays
    bounded instead of nesting every prior round.  Raises if ``max_iter``
    rounds don't converge rather than returning partial components.
    """
    # Symmetrize with ONE pass over the pair list: explode each pair into
    # its two directions.  The union-of-two-selects formulation would put
    # the (expensive — LSH + verify) pair pipeline into the plan TWICE and
    # execute it twice into the checkpoint; explode reads it once.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")
    # hash-partition on the loop's join key before the checkpoint: the
    # checkpoint preserves outputPartitioning, so each round's edge<->label
    # join moves only the label table — the edge list never re-shuffles
    # (same discipline as operators.graph.pagerank_fixed_point)
    edges = sym.distinct().repartition(F.col("b")).localCheckpoint()
    # Round 0 folded into initialization: label(v) = min(v, neighbors(v)).
    # The symmetric edge list contains every node on the `a` side, so one
    # aggregation both enumerates the node set and applies the first
    # propagation — two fewer driver-loop jobs than init-to-self + round.
    # Lazy checkpoint: round 0's convergence count is the materializing
    # action (one fewer driver-paced job before the loop).
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("__mb"))
        .select("node", F.least(F.col("node"), F.col("__mb")).alias("label"))
        .localCheckpoint(eager=False)
    )
    label_t = labels.schema["label"].dataType
    for rnd in range(max_iter):
        # Labels are monotone non-increasing (every fold includes the old
        # label, and the aggregate is a min), so "no node changed" is
        # exactly "no node's new min is BELOW its old label" — checkable
        # on the round's own aggregate by carrying the old label through
        # the union as a third column (one row per node: `labels` is
        # node-unique, the other folds carry null).  That removes the
        # old-vs-new join the convergence count used to pay per round.
        old = labels.select(
            "node", "label", F.col("label").alias("__orig")
        )
        nbr_min = edges.join(labels, edges["b"] == labels["node"]).select(
            edges["a"].alias("node"),
            F.col("label"),
            F.lit(None).cast(label_t).alias("__orig"),
        )
        folds = [old, nbr_min]
        # Pointer doubling (optimization r12, guide §1.2 "the distributed
        # algorithm" first): from round 2 on, also fold in label(label(v)).
        # A label always names a smaller node of the SAME component (labels
        # start as member ids and only ever take member-id values via
        # mins), so the shortcut edge keeps the component invariant, and
        # the fixed point is unchanged — at convergence labels are
        # constant per component and equal its min id, exactly as with
        # neighbor-min alone.  What changes is the ROUND count: label
        # chains halve every round, so convergence needs O(log diameter)
        # rounds instead of O(diameter) — the simhash chain graph
        # (multimodal_dup_census text modality) converges in 7 rounds
        # instead of ~35, and a path-graph component at 100 TB converges
        # at all.  The shortcut join costs a round ~half again, so it is
        # DEFERRED past the first two rounds: shallow graphs (near-dup
        # minhash components converge in 2-3 rounds) never pay it, deep
        # graphs start halving once depth is proven.
        if rnd >= 2:
            folds.append(
                labels.alias("x")
                .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
                .select(
                    F.col("x.node").alias("node"),
                    F.col("y.label").alias("label"),
                    F.lit(None).cast(label_t).alias("__orig"),
                )
            )
        # Lazy checkpoint: the convergence check below is the materializing
        # action, so each round runs ONE job, not a checkpoint job + a
        # count job.  Subsequent rounds read the materialized blocks.
        acc = folds[0]
        for f in folds[1:]:
            acc = acc.unionByName(f)
        new_full = (
            acc.groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max("__orig").alias("__orig"),
            )
            .localCheckpoint(eager=False)
        )
        # Full count (no limit-1 short-circuit): every partition of
        # new_full must compute so the lazy checkpoint materializes
        # completely before the next round reads it.
        changed = new_full.where(F.col("label") < F.col("__orig")).count()
        labels = new_full.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_iter} rounds"
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("comp_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("component_id"),
        F.col("comp_size"),
    )


def canonical_per_component(
    components: DataFrame,
    docs: DataFrame,
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick the document to KEEP from each near-duplicate component: the one
    with the largest ``order_col`` (id ascending as tiebreaker) — the
    curation convention that retains the most complete variant rather than
    an arbitrary min-id member.  Everything else in the component is the
    removal list.

    Plan shape at scale: ``components`` holds only near-duplicate members (a
    small fraction of the corpus), so the join against the doc attributes is
    a semi-join-sized exchange, and the per-component window sorts groups of
    ``comp_size`` rows — bounded by the dedup clustering itself.
    """
    joined = components.join(
        docs.select(F.col(id_col), F.col(order_col)), id_col
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            F.col("component_id"),
            F.col("comp_size"),
            F.col(id_col).alias("canonical_id"),
            F.col(order_col).cast("bigint").alias("canonical_size"),
        )
    )


# ---------------------------------------------------------------------------
# Exact set-similarity self-join: AllPairs / prefix filtering.


def jaccard_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT Jaccard self-join at threshold ``num/den`` via AllPairs
    prefix filtering — the non-probabilistic sibling of minhash LSH: no
    candidate that qualifies is ever missed, and every reported pair is
    verified, so the output is the literal definition.

    The filter: order tokens globally by (document frequency asc, token) —
    rare first — and index only each set's first ``n - ceil(t·n) + 1``
    tokens.  If J(a,b) >= t then |a∩b| >= t·max(|a|,|b|), which forces at
    least one shared token inside both prefixes (the AllPairs lemma), so a
    hash equi-join on indexed tokens finds every qualifying pair.  The
    exact |a∩b| verify then rejects the collisions.

    Scale shape: one pass for document frequencies (vocabulary-sized
    result, broadcast back — for web-scale shingle spaces swap the
    broadcast for a shuffle join, same semantics), one per-set window to
    rank tokens, one equi-join on prefix tokens, one distinct, one
    verify join carrying the token arrays.  Never |L|·|R|; candidate
    volume is data-dependent (rare-first ordering minimizes it).

    Returns (id_a, id_b, n_inter, n_union, jac_fp) with jac_fp the
    similarity in parts-per-million (integer floor — exact both engines).
    """
    t_num, t_den = threshold_num, threshold_den
    src = df.select(F.col(id_col).alias("sid"), F.col(tokens_col).alias("toks"))
    # `base` feeds every compute-heavy stage downstream (token window,
    # prefix join, the array_intersect verify) and, being checkpointed,
    # PINS their parallelism to its own partitioning.  A small corpus
    # scans as a handful of input splits (guide §2.1: too few splits),
    # which measured as a 4-task, 3.3 s-median verify stage on 32 cores
    # (VERDICT r12 ask #3 — the 8->32-core ratio was 1.02).  Spread the
    # token arrays across the scheduler's width when the scan is narrower
    # than it; at scale the scan already has >= cores splits and no
    # exchange is added — the condition, not a constant, carries across
    # cluster sizes.
    par = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par, F.col("sid"))
    # The empty-set filter applies AFTER the barrier: written before it,
    # Catalyst pushes the predicate through the exchange by substituting
    # the caller's token expression, and the whole shingle build runs a
    # second time — serially, inside the narrow scan stage (a measured
    # 1.5 s single task; plan/timeline evidence in OPTIMIZATION_r13.md).
    # On the checkpointed frame it is a size() test on materialized
    # arrays.  Same rows survive either way.
    base = materialized(src).where(F.size("toks") > 0)
    tok = base.select("sid", F.size("toks").alias("n"), F.explode("toks").alias("t"))
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("sid").orderBy("df", "t")
    # prefix bound n - ceil(t*n) + 1 in pure integer arithmetic
    prefix = (
        tok.join(F.broadcast(dfreq), "t")
        .withColumn("rn", F.row_number().over(w))
        .where(
            F.col("rn")
            <= F.col("n") - F.expr(f"({t_num} * n + {t_den - 1}) DIV {t_den}") + 1
        )
        .select("sid", "n", "t")
    )
    a = prefix.select(F.col("sid").alias("id_a"), F.col("n").alias("na"), "t")
    b = prefix.select(F.col("sid").alias("id_b"), F.col("n").alias("nb"), "t")
    # AllPairs length filter: J >= t forces |a∩b| >= t·max and <= min,
    # so min >= t·max — prune size-mismatched collisions BEFORE the
    # distinct/verify (the big win on size-diverse corpora)
    cand = (
        a.join(b, "t")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (t_den * F.least("na", "nb") >= t_num * F.greatest("na", "nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(F.col("sid").alias("id_a"), F.col("toks").alias("ta"))
    vb = base.select(F.col("sid").alias("id_b"), F.col("toks").alias("tb"))
    # The verify predicate is written over |a∩b| and |a|+|b| rather than
    # (n_inter, n_union): the optimizer pushes the filter into the join
    # condition by substituting the aliases, and with n_union = s - i the
    # pushed form evaluated array_intersect TWICE per candidate (plan
    # evidence in plans/r13/jaccard_pairs_before.txt).  Integer algebra:
    # t_den*i >= t_num*(s - i)  <=>  (t_den + t_num)*i >= t_num*s —
    # identical admitted pairs, one intersect per candidate.  The output
    # columns are unchanged.
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("ta", "tb")).cast("long"))
        .withColumn("__s", (F.size("ta") + F.size("tb")).cast("long"))
        .where(
            (t_den + t_num) * F.col("n_inter") >= t_num * F.col("__s")
        )
        .withColumn("n_union", F.col("__s") - F.col("n_inter"))
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        F.expr("1000000 * n_inter DIV n_union").alias("jac_fp"),
    )


def cross_gram_sets(
    df: DataFrame,
    side: str,
    text_col: str,
    id_col: str,
    ngram_len: int = 3,
) -> DataFrame:
    """Side-tagged distinct char-n-gram hash sets (``__gid_{side}``,
    ``g_{side}``) — the verify-stage frame of :func:`minhash_join` and
    :func:`fuzzy_dedup_pairs`, module-level so an incremental consumer
    (the streaming twin) can precompute the corpus side ONCE and reuse it
    across microbatches."""
    import pandas as pd

    from ..functions.fast_hash import ngram_hash_lists

    gschema = StructType(
        [
            StructField(f"__gid_{side}", df.schema[id_col].dataType, True),
            StructField(f"g_{side}", ArrayType(LongType()), False),
        ]
    )

    def compute(batches):
        for pdf in batches:
            lists = ngram_hash_lists(pdf[text_col].tolist(), ngram_len)
            yield pd.DataFrame(
                {f"__gid_{side}": pdf[id_col].to_numpy(), f"g_{side}": lists}
            )

    return df.select(id_col, text_col).mapInPandas(compute, gschema)


def minhash_join(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    est_threshold: float = 0.5,
    jaccard_threshold: float = 0.7,
    shingle_len: int = 5,
    ngram_len: int = 3,
    bands: int = 4,
    broadcast_batch: bool = True,
    corpus_signed: DataFrame | None = None,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN — the incremental-ingest form of
    fuzzy dedup: which documents of a NEW ``batch`` near-duplicate
    something already in ``corpus``.  Same two-stage architecture as
    ``fuzzy_dedup_pairs`` (banded MinHash candidates -> exact n-gram
    Jaccard verify), but across two frames instead of a self-join.

    Output: (``{id}_new``, ``{id}_old``, est_jaccard, jaccard) for pairs
    with exact jaccard >= threshold.

    Scale shape: at ingest the batch is tiny next to the corpus, so with
    ``broadcast_batch=True`` (default) the batch's banded signature table
    is an EXPLICIT broadcast — the corpus streams through the candidate
    probe without shuffling (the incremental contract).  For batch ~
    corpus (a backfill merge), pass ``broadcast_batch=False``: the band
    join hash-shuffles BOTH sides on the band key — the right plan when
    neither side fits an executor (VERDICT r04 ask #5; both paths are
    bit-equal, pinned by tests/test_operators.py::
    test_minhash_join_shuffle_path_bit_identical).  Exact verification
    joins gram sets on candidate ids only; both gram joins move
    candidate-scale rows (AQE broadcasts the candidate side).
    """
    sb = minhash_signature_df(batch, text_col, id_col, shingle_len)
    sc = (
        corpus_signed
        if corpus_signed is not None
        else minhash_signature_df(corpus, text_col, id_col, shingle_len)
    )
    n_perms = len(MINHASH_PERMS)

    def banded(signed, side):
        return signed.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col("sig").alias(f"sig_{side}"),
            F.posexplode(F.array(*_band_signature_cols(bands))).alias(
                "band_idx", "band_sig"
            ),
        )

    batch_side = banded(sb, "new")
    if broadcast_batch:
        batch_side = F.broadcast(batch_side)
    cand = (
        banded(sc, "old")
        .join(batch_side, on=["band_idx", "band_sig"])
        .select("id_new", "id_old", "sig_new", "sig_old")
        .dropDuplicates(["id_new", "id_old"])
    )
    matches = F.expr(
        "size(filter(zip_with(sig_new, sig_old, (_lx, _ly) -> _lx = _ly), "
        "_lv -> _lv))"
    )
    cand = cand.select(
        "id_new",
        "id_old",
        (matches / F.lit(float(n_perms))).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= F.lit(est_threshold))

    old_grams = (
        corpus_grams
        if corpus_grams is not None
        else cross_gram_sets(corpus, "old", text_col, id_col, ngram_len)
    )
    joined = (
        cand.join(
            cross_gram_sets(batch, "new", text_col, id_col, ngram_len),
            cand.id_new == F.col("__gid_new"),
        )
        .drop("__gid_new")
        .join(old_grams, F.col("id_old") == F.col("__gid_old"))
        .drop("__gid_old")
    )
    inter = F.size(F.array_intersect("g_new", "g_old"))
    union = F.size("g_new") + F.size("g_old") - inter
    return joined.select(
        F.col("id_new").alias(f"{id_col}_new"),
        F.col("id_old").alias(f"{id_col}_old"),
        "est_jaccard",
        (inter.cast("double") / union).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(jaccard_threshold))


def connected_components_star(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round CC that replaces min-label propagation when
    component DIAMETERS are large (label propagation needs O(diameter)
    rounds; a 1e6-node path graph at 100 TB never converges under it):

      large-star: every node u connects its LARGER neighbors to the
        minimum of its neighborhood (min(N(u) + u)) — long chains halve;
      small-star: every node u re-points its smaller-or-equal neighbors
        (and itself) at that minimum — stars flatten.

    Both steps are one groupBy + one join on the node key, both
    monotone (edges only ever point lower), and the edge list contracts
    toward one star per component rooted at the component minimum.
    Convergence check = the small-star output equals the previous round's
    edge set (two exceptAll counts on the label-scale frame); rounds are
    localCheckpoint-ed like the label-propagation loop.

    Output: identical contract to :func:`connected_components` —
    (id_col, component_id = min member id, comp_size) — and pinned equal
    to it by tests; the driver value-gates it against the same recursive
    reachability oracle.
    """
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")
    edges = sym.distinct().localCheckpoint()

    def large_star(e: DataFrame) -> DataFrame:
        s = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = s.groupBy("a").agg(
            F.least(F.min("b"), F.col("a")).alias("__m")
        )
        return (
            s.join(m, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("__m").alias("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient every edge larger -> smaller first
        o = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        m = o.groupBy("a").agg(
            F.least(F.min("b"), F.col("a")).alias("__m")
        )
        joined = o.join(m, "a")
        out = joined.select(
            F.col("b").alias("a"), F.col("__m").alias("b")
        ).unionByName(m.select(F.col("a"), F.col("__m").alias("b")))
        return out.distinct()

    for _ in range(max_iter):
        new_edges = small_star(large_star(edges)).localCheckpoint(
            eager=False
        )
        # Set equality both directions (edge counts can stay equal while
        # membership changes).  Both frames are DISTINCT sets by
        # construction (small_star ends .distinct(); round 0 is
        # sym.distinct()), so two exceptAll jobs collapse into ONE
        # full-outer mismatch count — half the per-round convergence
        # actions, and the count still materializes every partition of
        # the lazy checkpoint before the next round reads it.
        mismatch = (
            new_edges.withColumn("__n", F.lit(1))
            .join(
                edges.withColumn("__o", F.lit(1)), ["a", "b"], "full_outer"
            )
            .where(F.col("__n").isNull() | F.col("__o").isNull())
            .count()
        )
        edges = new_edges
        if mismatch == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no convergence in {max_iter} rounds"
        )
    # converged edges are stars (node -> component min, self-loop at the
    # root); drop self-loops' duplicates via the min aggregate
    labels = edges.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("label")
    )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("comp_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("component_id"),
        F.col("comp_size"),
    )
