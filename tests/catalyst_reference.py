"""Pure-Catalyst reference implementations of the package's Arrow kernels.

Each function here computes, with Spark SQL expressions and higher-order
functions only, the same values as one numpy kernel over Arrow batches in
``cassandra_cql_streaming_db_migrator_spark.operators``.  The tests compare
kernel and reference on the same inputs and require equal integers and
bit-identical doubles (same folds, same moduli, same operand order).

Nothing here runs Python on the executors, so Python workers never import
this module.  The package does not use it: its one implementation of each
operator is the Arrow kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.functions.hashing import (
    MINHASH_P,
    MINHASH_PERMS,
    SIMHASH_MOD,
    poly_hash,
)
from cassandra_cql_streaming_db_migrator_spark.operators.corpus import word_ngrams
from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
    _LCG_A,
    _LCG_C,
    _LCG_M,
    _dot,
    cosine,
)

# --- MinHash / SimHash (operators.dedup) --------------------------------------


def shingle_hashes(text: Column, shingle_len: int = 5) -> Column:
    """Distinct character-shingle hash set as array<long>."""
    n = F.greatest(F.length(text) - F.lit(shingle_len - 1), F.lit(1))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(text, i, shingle_len),
        )
    )
    return F.transform(shingles, lambda s: poly_hash(s))


def minhash_signature(hashes: Column) -> list[Column]:
    """16 minhash values: min over the shingle-hash set of (a*h+b) mod p,
    one frozen (a,b) per signature slot."""
    def perm_min(a: int, b: int):
        return lambda acc, h: F.least(acc, (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P))

    return [
        F.aggregate(hashes, F.lit(MINHASH_P).cast("long"), perm_min(a, b))
        for a, b in MINHASH_PERMS
    ]


def minhash_signature_df(
    df: DataFrame, text_col: str, id_col: str, shingle_len: int = 5
) -> DataFrame:
    """Reference for ``dedup.minhash_signature_df``: (id, sig array<long>).
    The id repartition is a materialization barrier: without it the 16
    interpreted aggregates would each inline the shingle pipeline."""
    src = df.select(F.col(id_col), F.col(text_col)).repartition(F.col(id_col))
    hashed = src.select(
        F.col(id_col), shingle_hashes(F.col(text_col), shingle_len).alias("hh")
    )
    sigs = minhash_signature(F.col("hh"))
    return hashed.select(F.col(id_col), F.array(*sigs).alias("sig"))


def token_hashes(text: Column, token_sep: str = " ") -> Column:
    """Per-token polynomial hashes (mod 2^53-prime) as array<long>."""
    return F.transform(
        F.split(text, token_sep),
        lambda t: F.aggregate(
            F.filter(F.split(t, ""), lambda x: x != F.lit("")),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(SIMHASH_MOD),
        ),
    )


def simhash_from_hashes(hh: Column) -> Column:
    """53-bit SimHash from a materialized token-hash array: bit k is set iff
    the sum of +-1 votes from token-hash bit k is positive.  Pure integer
    arithmetic (div/mod instead of shifts — Spark's shift functions take
    only literal shift amounts, and div-by-power-of-two is portable)."""

    def bit_vote(k: Column) -> Column:
        pow2k = F.pow(F.lit(2.0), k.cast("double")).cast("long")
        return F.aggregate(
            hh,
            F.lit(0).cast("long"),
            lambda a, h: a
            + F.when(((h.cast("long") / pow2k).cast("long")) % 2 == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(52)),
        F.lit(0).cast("long"),
        lambda acc, k: acc
        + F.when(bit_vote(k) > 0, F.pow(F.lit(2.0), k.cast("double")).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Reference for ``dedup.simhash_fingerprints``.  The token-hash array
    is materialized through an exchange: the 53 bit-vote folds would
    otherwise each recompute tokenization and hashing."""
    hashed = df.select(
        F.col(id_col), token_hashes(F.col(text_col)).alias("__th")
    ).repartition(F.col(id_col))
    return hashed.select(
        F.col(id_col), simhash_from_hashes(F.col("__th")).alias("simhash")
    )


# --- embeddings (operators.similarity) ----------------------------------------


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference for ``similarity.cosine_topk``: broadcast cross join and
    the Catalyst cosine fold."""
    q = F.broadcast(query.select(F.col(vec_col).alias("__query_vec")))
    scored = embeddings.crossJoin(q).select(
        F.col(id_col),
        cosine(vec_col, "__query_vec").alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def bucket_id(vec: str, n_bits: int = 8) -> Column:
    """B-bit LSH bucket of the column named ``vec``: bit b = sign of
    dot(plane_b, vec), plane components from the frozen LCG, folded
    dimension by dimension."""
    v = f"`{vec}`"
    bits = []
    for b in range(n_bits):
        plane = (
            f"CAST(({_LCG_A}L * ({b * 4096}L + CAST(_li AS BIGINT)) "
            f"+ {_LCG_C}L) % {_LCG_M}L AS DOUBLE) "
            f"/ {float(_LCG_M)!r}D * 2.0D - 1.0D"
        )
        proj = (
            f"aggregate(zip_with({v}, sequence(0, size({v}) - 1), "
            f"(_lx, _li) -> CAST(_lx AS DOUBLE) * ({plane})), "
            "0.0D, (_lacc, _lv) -> _lacc + _lv)"
        )
        bits.append(f"CASE WHEN {proj} > 0.0D THEN {1 << b}L ELSE 0L END")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(bits))


def with_bucket_ids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
    out_col: str = "__bucket",
) -> DataFrame:
    """Reference for ``similarity.with_bucket_ids``."""
    return df.withColumn(out_col, bucket_id(vec_col, n_bits))


def block_top_pairs(
    embeddings: DataFrame,
    block_col: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference for ``similarity.block_top_pairs``: self-join within the
    block, Catalyst cosine fold, row_number over (cosine desc, id_1, id_2)."""
    normed = embeddings.select(
        F.col(block_col),
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(_dot(vec_col, vec_col)).alias("__norm"),
    )
    a = normed.select(
        F.col(block_col),
        F.col(id_col).alias("id_1"),
        F.col(vec_col).alias("v1"),
        F.col("__norm").alias("n1"),
    )
    b = normed.select(
        F.col(block_col),
        F.col(id_col).alias("id_2"),
        F.col(vec_col).alias("v2"),
        F.col("__norm").alias("n2"),
    )
    pairs = a.join(b, on=block_col).filter(F.col("id_1") < F.col("id_2"))
    scored = pairs.select(
        F.col(block_col),
        F.col("id_1").alias(f"{id_col}_1"),
        F.col("id_2").alias(f"{id_col}_2"),
        (_dot("v1", "v2") / (F.col("n1") * F.col("n2"))).alias("cosine"),
    )
    w = Window.partitionBy(block_col).orderBy(
        F.col("cosine").desc(),
        F.col(f"{id_col}_1").asc(),
        F.col(f"{id_col}_2").asc(),
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def quantize_embeddings_catalyst(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Reference for ``similarity.quantize_embeddings`` (same floor-based
    formula, same fold order)."""
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs)) / F.lit(127.0)
    safe = F.when(scale == F.lit(0.0), F.lit(1.0)).otherwise(scale)

    def err(x: Column) -> Column:
        return x - F.floor(x / safe + F.lit(0.5)) * safe

    mse = F.aggregate(
        e, F.lit(0.0), lambda a, x: a + err(x) * err(x)
    ) / F.size(e)
    return df.select(
        id_col,
        scale.alias("scale"),
        F.array_max(F.transform(e, lambda x: F.abs(err(x)))).alias("max_abs_err"),
        mse.alias("mse"),
    )


# --- text (operators.textops, operators.corpus) --------------------------------


def repetition_signals_catalyst(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Reference for ``textops.repetition_signals``: explode -> two-level
    hash aggregation."""

    def _frac6(num: Column, den: Column) -> Column:
        return F.floor(num.cast("double") / den * 1000000.0 + F.lit(0.5)) / 1000000.0

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    )
    wc = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    words = wc.groupBy(id_col).agg(
        F.sum("__c").cast("bigint").alias("n_tokens"),
        F.max("__c").alias("__top_w"),
    )
    bigrams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), 2)).alias("__bg")
    )
    bc = bigrams.groupBy(id_col, "__bg").agg(F.count(F.lit(1)).alias("__c"))
    bstats = bc.groupBy(id_col).agg(
        F.sum("__c").alias("__n_bg"),
        F.max("__c").alias("__top_bg"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(F.lit(0))).alias(
            "__dup_bg"
        ),
    )
    out = words.join(bstats, id_col, "left")
    return out.select(
        F.col(id_col),
        F.col("n_tokens"),
        _frac6(F.col("__top_w"), F.col("n_tokens")).alias("top_word_frac"),
        F.when(F.col("__n_bg") > 0, _frac6(F.col("__top_bg"), F.col("__n_bg")))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(F.col("__n_bg") > 0, _frac6(F.col("__dup_bg"), F.col("__n_bg")))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def decontaminate_catalyst(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_len: int = 8,
) -> DataFrame:
    """Reference for ``corpus.decontaminate``, joining on gram STRINGS
    (the kernel joins on packed 61-bit gram hashes)."""
    grams = word_ngrams(F.col(text_col), ngram_len)
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram")
    )
    bench_grams = benchmark.select(F.explode(grams).alias("gram")).distinct()
    hits = corpus_grams.join(F.broadcast(bench_grams), "gram")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shared_ngrams")
    )
