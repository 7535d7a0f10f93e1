"""Text analysis operators (SURVEY §7.2.6): token counting, quality
scoring, language-ID heuristics, n-gram Jaccard, document fingerprints.

All built-in-function compositions (split/regexp/HOFs) — JVM-side,
codegen'd, scale-free per row.  Jaccard pair generation uses explicit
blocking so pair counts stay bounded; the unblocked variant does not exist
on purpose (O(n^2) at 100 TB is not an operator, it is an outage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import poly_hash
from .caching import materialized

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols.
BPE_TOKEN_PATTERN = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]"


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality/stat features (whitespace tokens)."""
    tokens = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_measured"),
        F.size(tokens).alias("n_tokens"),
        F.size(F.array_distinct(tokens)).alias("n_unique_tokens"),
        F.round(
            F.size(F.array_distinct(tokens)).cast("double") / F.size(tokens), 6
        ).alias("unique_ratio"),
    )


def bpe_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def stopword_ratio(text_col: Column, stopwords: list[str]) -> Column:
    """Fraction of whitespace tokens that are stopwords — the language-ID /
    quality heuristic primitive."""
    tokens = F.split(text_col, " ")
    hits = F.size(F.filter(tokens, lambda t: t.isin(*stopwords)))
    return F.round(hits.cast("double") / F.size(tokens), 6)


EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def lang_id_heuristic(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-density language guess (n-gram-free variant suited to the
    whitespace-tokenized fixtures; real corpora would add char n-gram
    profiles per language)."""
    ratio = stopword_ratio(F.col(text_col), EN_STOPWORDS)
    return df.select(
        F.col(id_col),
        ratio.alias("en_stop_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("lang_guess"),
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-gram set."""
    cnt = F.greatest(F.length(text) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), cnt), lambda i: F.substring(text, i, n))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within the same block.
    jaccard = |A ∩ B| / |A ∪ B| over distinct *hashed* n-gram sets.

    Engineering for the pair explosion (the expensive part):
      * grams are hashed to int64 before the join — array_intersect over
        longs is several times cheaper than over strings, and the oracle
        applies the same hash so semantics stay exactly comparable;
      * the gram arrays are materialized through the block-join shuffle
        (computed once per doc, not once per pair);
      * size prefilter: jaccard <= min(|A|,|B|)/max(|A|,|B|), so pairs
        whose size ratio is below the threshold skip the intersect
        entirely — an implication of the threshold, not a semantic change.
    """
    grams = F.array_distinct(
        F.transform(char_ngrams(F.col(text_col), n), lambda g: poly_hash(g))
    )
    base = df.select(*block_cols, F.col(id_col), grams.alias("__grams"))
    a = base.select(
        *block_cols,
        F.col(id_col).alias("id_1"),
        F.col("__grams").alias("g1"),
        F.size("__grams").alias("s1"),
    )
    b = base.select(
        *block_cols,
        F.col(id_col).alias("id_2"),
        F.col("__grams").alias("g2"),
        F.size("__grams").alias("s2"),
    )
    joined = (
        a.join(b, on=block_cols)
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(
            F.least("s1", "s2").cast("double") / F.greatest("s1", "s2") >= F.lit(threshold)
        )
    )
    inter = F.size(F.array_intersect("g1", "g2"))
    union = F.col("s1") + F.col("s2") - inter
    scored = joined.select(
        F.col("id_1").alias(f"{id_col}_1"),
        F.col("id_2").alias(f"{id_col}_2"),
        (inter.cast("double") / union).alias("jaccard"),
    )
    return scored.filter(F.col("jaccard") >= F.lit(threshold))


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic whole-document polynomial fingerprint (mod 1e9+7)."""
    return df.select(F.col(id_col), poly_hash(F.col(text_col)).alias("fingerprint"))


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition quality signals in the style of the Gopher corpus filters
    (Rae et al. 2021, §A1.1): fraction of tokens taken by the most frequent
    word, fraction of bigram occurrences taken by the most frequent bigram,
    and the fraction of bigram occurrences that are duplicates.  High values
    flag boilerplate/spam documents for removal before training.

    These are per-document functions, so the scale shape is an Arrow
    ``mapInPandas`` kernel: narrow, zero shuffles, embarrassingly parallel —
    exploding tokens through groupBy shuffles (the Catalyst reference in
    tests/catalyst_reference.py) would shuffle every token instance at
    100 TB.  Fractions round via
    ``floor(x * 1e6 + 0.5) / 1e6`` — floor is the same exact IEEE op in
    Python, Catalyst and DuckDB, while ``round()`` semantics differ.
    NULL-text documents are dropped, matching the explode semantics of the
    Catalyst reference and the SQL oracle.
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_tokens bigint, top_word_frac double, "
        "top_bigram_frac double, dup_bigram_frac double"
    )

    def kernel(batches):
        import math
        from collections import Counter

        for pdf in batches:
            out = {
                id_col: pdf[id_col],
                "n_tokens": [],
                "top_word_frac": [],
                "top_bigram_frac": [],
                "dup_bigram_frac": [],
            }
            for text in pdf[text_col]:
                toks = text.split(" ")
                n = len(toks)
                wc = Counter(toks)
                top_w = max(wc.values())
                out["n_tokens"].append(n)
                out["top_word_frac"].append(
                    math.floor(top_w / n * 1000000.0 + 0.5) / 1000000.0
                )
                if n > 1:
                    bc = Counter(zip(toks, toks[1:]))
                    n_bg = n - 1
                    top_bg = max(bc.values())
                    dup_bg = sum(v for v in bc.values() if v > 1)
                    out["top_bigram_frac"].append(
                        math.floor(top_bg / n_bg * 1000000.0 + 0.5) / 1000000.0
                    )
                    out["dup_bigram_frac"].append(
                        math.floor(dup_bg / n_bg * 1000000.0 + 0.5) / 1000000.0
                    )
                else:
                    out["top_bigram_frac"].append(0.0)
                    out["dup_bigram_frac"].append(0.0)
            yield pd.DataFrame(out)

    return (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .mapInPandas(kernel, schema=schema)
    )


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document term frequencies ``(id, term, tf)`` via a narrow Arrow
    kernel — term counting is a per-document function, so aggregating inside
    the row (Counter per doc) emits ~unique-terms rows per doc with ZERO
    shuffles, where explode -> groupBy(id, term) would shuffle every token
    instance of the corpus."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, __tok string, __tf bigint"

    def kernel(batches):
        from collections import Counter

        for pdf in batches:
            ids: list = []
            terms: list = []
            tfs: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                c = Counter(("" if text is None else text).split(" "))
                c.pop("", None)
                for term, tf in c.items():
                    ids.append(doc_id)
                    terms.append(term)
                    tfs.append(tf)
            yield pd.DataFrame({id_col: ids, "__tok": terms, "__tf": tfs})

    return df.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def pack_trigram(tri: str) -> int:
    """The kernel's 21-bit-per-codepoint packing of a 3-char string —
    codepoints max out at 0x10FFFF < 2^21, so any trigram (including NULs
    and astral-plane characters) fits a single int64 injectively."""
    return (ord(tri[0]) << 42) | (ord(tri[1]) << 21) | ord(tri[2])


def build_inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_postings: int = 20,
) -> DataFrame:
    """Inverted-index construction: one row per term with its document
    frequency, total term frequency, and the top-``max_postings`` posting
    entries ranked by (tf desc, doc asc) — the search-index build step
    over a large corpus, as an engine operator.

    Shape: per-doc term counts from the narrow :func:`term_frequencies`
    Arrow kernel (corpus never shuffles token instances — the kernel
    aggregates inside the row); ONE shuffle on the term for the ranking
    window; the final aggregate reuses that partitioning.  ``doc_freq``/
    ``total_tf`` come from full-partition windows BEFORE the posting cap,
    so capping bounds output width without corrupting the statistics.
    Postings serialize as ``doc:tf`` strings in rank order — flat,
    hashable, and the shape a posting-list consumer shards on.
    """
    tf = term_frequencies(df, text_col=text_col, id_col=id_col)
    w_rank = Window.partitionBy("__tok").orderBy(
        F.col("__tf").desc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy("__tok")
    ranked = (
        tf.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__df", F.count(F.lit(1)).over(w_all))
        .withColumn("__ttf", F.sum("__tf").over(w_all))
    )
    return (
        ranked.where(F.col("__rn") <= max_postings)
        .groupBy(F.col("__tok").alias("term"))
        .agg(
            F.max("__df").alias("doc_freq"),
            F.max("__ttf").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", id_col, "__tf"))
                    ),
                    lambda s: F.concat_ws(":", s[id_col], s["__tf"]),
                ),
                ",",
            ).alias("postings"),
        )
        .where(F.col("doc_freq") >= min_df)
    )


def lexical_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-time lexical ranking over the corpus — the read path the
    inverted index exists for, as a one-shot scan-side scorer: BM25-shaped
    tf-saturating, rarity-weighted scoring made hash-exact by replacing
    the log-idf with the LOG-FREE rational weight (N - df) / N and doing
    ALL arithmetic in int64 ppm fixed point:

        score_ppm(d) = sum over query terms t of
            1e6 * tf(t,d) * (N - df(t))  DIV  (N * (tf(t,d) + 2))

    (+2 is the tf-saturation constant, BM25's k1: the second occurrence
    is worth less than the first; the (N - df)/N weight orders terms by
    rarity exactly as idf does, monotonically).  Integer ppm means the
    ranking hash-checks across engines — float log/tie noise cannot
    reorder it.  Ties break on doc id: a total order.

    Scale shape: per-doc tf comes from the narrow Arrow kernel (token
    instances never shuffle) and is filtered to the query vocabulary
    IMMEDIATELY — everything after moves |Q|-term rows only.  df and the
    corpus size N are metadata-scale aggregates broadcast back; the final
    top-k is TakeOrdered, no global sort.  At serving scale the same
    scoring runs off the prebuilt index instead of the scan.
    """
    tf = term_frequencies(df, text_col=text_col, id_col=id_col).where(
        F.col("__tok").isin(*query_terms)
    )
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__N"))
    scored = (
        tf.join(F.broadcast(dfreq), "__tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__score",
            # 1e6 * tf * N exceeds int64 once tf * N_docs passes ~9e12
            # (long docs x web-scale corpus) — widen the numerator to
            # decimal(38,0) like the association-rules lift (ADVICE r04
            # #3); DIV on decimal operands still returns BIGINT.
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * __tf * (__N - __df))"
                " DIV (CAST(__N AS DECIMAL(38,0)) * (__tf + 2))"
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__score").alias("score_ppm"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("score_ppm"), id_col)
        .limit(k)
    )


def lexical_topk_sql(
    query_terms: list[str],
    k: int = 15,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """The identical log-free scorer as DuckDB SQL (oracle twin)."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH tf AS (
  SELECT {id_col}, t AS tok, count(*) AS tf
  FROM {table}, unnest(string_split({text_col}, ' ')) AS u(t)
  WHERE t IN ({terms})
  GROUP BY 1, 2
),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS nd FROM {table})
SELECT {id_col},
       CAST(sum(CAST(1000000 AS HUGEINT) * tf * (nd - df)
                // (CAST(nd AS HUGEINT) * (tf + 2))) AS BIGINT)
         AS score_ppm,
       count(*) AS n_terms_hit
FROM tf JOIN dfreq USING (tok), n
GROUP BY {id_col}
ORDER BY score_ppm DESC, {id_col}
LIMIT {k}
"""


def build_inverted_index_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_postings: int = 20,
) -> str:
    """The identical index build as DuckDB SQL (oracle twin)."""
    return f"""
WITH tf AS (
  SELECT {id_col}, t AS tok, count(*) AS tf
  FROM {table}, unnest(string_split({text_col}, ' ')) AS u(t)
  WHERE t <> ''
  GROUP BY 1, 2
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY tok ORDER BY tf DESC, {id_col}) AS rn,
         count(*) OVER (PARTITION BY tok) AS dfreq,
         sum(tf) OVER (PARTITION BY tok) AS ttf
  FROM tf
)
SELECT tok AS term, max(dfreq) AS doc_freq, CAST(max(ttf) AS BIGINT) AS total_tf,
       string_agg({id_col} || ':' || tf, ',' ORDER BY rn) AS postings
FROM r WHERE rn <= {max_postings}
GROUP BY tok
HAVING max(dfreq) >= {min_df}
"""


def doc_trigram_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-trigram counts ``(id, tri, cnt)`` via a narrow
    Arrow kernel (zero shuffles, like :func:`term_frequencies`).  Documents
    shorter than 3 characters produce no rows.

    ``__tri`` is NOT a string: trigrams stay packed as int64 (21 bits per
    codepoint, :func:`pack_trigram`) end to end.  The column is internal to
    the LM — keeping it integer skips string materialization in the kernel
    and makes every downstream hash (model aggregates, broadcast join)
    an int64 hash instead of a string hash.  Counting is by codepoint, so
    NUL bytes and non-ASCII take the same vectorized path (ASCII decodes
    via a zero-copy byte view; everything else via UTF-32-LE code units,
    which are the codepoints — no per-character Python either way).
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, __tri bigint, __cnt bigint"

    import numpy as np

    def kernel(batches):
        for pdf in batches:
            doc_ids: list = []
            code_chunks: list = []
            count_chunks: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                t = "" if text is None else text
                if len(t) < 3:
                    continue
                b = t.encode("utf-8")
                if len(b) == len(t):  # pure ASCII: bytes ARE codepoints
                    arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                else:
                    # full-codepoint path, still vectorized: UTF-32-LE code
                    # units ARE the codepoints, so C-side encode + zero-copy
                    # frombuffer replaces the old per-character ord() loop
                    arr = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                codes = (arr[:-2] << 42) | (arr[1:-1] << 21) | arr[2:]
                uniq, counts = np.unique(codes, return_counts=True)
                doc_ids.append((doc_id, len(uniq)))
                code_chunks.append(uniq)
                count_chunks.append(counts)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(
                            np.array([d for d, _ in doc_ids]),
                            np.array([n for _, n in doc_ids]),
                        ),
                        "__tri": np.concatenate(code_chunks),
                        "__cnt": np.concatenate(count_chunks),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def _trigram_model_from_counts(doc_tris: DataFrame) -> DataFrame:
    """The trigram LM model table (__tri, __p) from a per-doc trigram
    count frame.  Charset-bounded (``|charset|^3`` rows max) however
    large the corpus — the broadcastable/saveable trained structure."""
    c3 = doc_tris.groupBy("__tri").agg(F.sum("__cnt").alias("__c3"))
    # aggregate the prefix table straight off the materialized per-doc frame
    # (deriving it from c3 would recompute the c3 aggregate in a second
    # plan branch); the prefix of a packed trigram is an integer shift
    c2 = doc_tris.groupBy(F.shiftright("__tri", 21).alias("__pre")).agg(
        F.sum("__cnt").alias("__c2")
    )
    # both model tables are charset-bounded: broadcast the prefix table
    return c3.join(
        F.broadcast(c2), F.shiftright(c3["__tri"], 21) == c2["__pre"], "inner"
    ).select(
        "__tri", (F.col("__c3").cast("double") / F.col("__c2")).alias("__p")
    )


def trigram_lm_model(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """TRAIN the corpus trigram LM and return the model table (__tri, __p)
    — the persistable artifact (sinks.artifacts): integer-exact counts in,
    one double division out, so a parquet round trip reproduces scores
    bit-for-bit when passed back via ``trigram_lm_score(df, model=...)``."""
    doc_tris = materialized(
        doc_trigram_counts(df, text_col=text_col, id_col=id_col)
    )
    return _trigram_model_from_counts(doc_tris)


def trigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: DataFrame | None = None,
) -> DataFrame:
    """In-corpus character-trigram LM fluency score: train trigram
    statistics over the whole corpus, then score each document by the mean
    conditional probability ``P(c3 | c1 c2) = C(tri) / sum_z C(c1 c2 z)``
    of its trigram instances.  Low scores flag documents whose character
    sequences are atypical for the corpus (mojibake, binary spill, foreign
    scripts) — the classic model-based quality filter built from corpus
    statistics alone.

    The score is an arithmetic mean of probabilities (not log-perplexity):
    rank-equivalent for filtering, and every per-instance probability is a
    single exact-integer division, so the oracle comparison stays
    bit-deterministic (no libm log).  The cross-row sum floor-quantizes
    each addend to an integer at 1e-10 resolution before a DECIMAL(38,0)
    sum: ``cnt * p`` is a dyadic double whenever the prefix count is a
    power of two, and fractional decimal casts of dyadics hit half-way
    ties that engines round differently (see queries/__init__).

    Plan shape at scale: per-doc trigram counts are a narrow kernel; the
    model tables are character-vocabulary-bounded (``|charset|^3``) however
    large the corpus, so they hash-aggregate small and BROADCAST back to
    the per-doc frame; only the two model aggregates and the final per-doc
    aggregate shuffle.
    """
    # both the model derivation and the scoring join consume this frame —
    # materialized so the Arrow kernel runs once (two plan branches
    # re-execute the upstream otherwise)
    doc_tris = materialized(
        doc_trigram_counts(df, text_col=text_col, id_col=id_col)
    )
    if model is None:
        model = _trigram_model_from_counts(doc_tris)
    scored = doc_tris.join(F.broadcast(model), "__tri")
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("bigint").alias("n_trigrams"),
            F.sum(
                F.floor(
                    (F.col("__cnt").cast("double") * F.col("__p")) * F.lit(1e10)
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).alias("__psum"),
        )
        .select(
            F.col(id_col),
            F.col("n_trigrams"),
            F.round(
                F.col("__psum").cast("double") / F.col("n_trigrams") / F.lit(1e10), 6
            ).alias("mean_tri_prob"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    The idf factor is the smoothed linear ratio ``N / (df + 1)`` rather than
    its logarithm: the ranking it induces per document is identical (log is
    monotone) and the score stays a single exact-integer division, which
    keeps the oracle comparison bit-deterministic across engines (libm log
    implementations may differ in the last ulp).

    Plan shape at scale: tf comes from the narrow :func:`term_frequencies`
    kernel (no shuffle); df is one hash aggregate over tf's already
    per-doc-deduplicated output; the tf<->df join shuffles on the term —
    vocabulary-sized, which AQE will broadcast when small; top-k is one
    row_number window per document.  Only genuinely cross-document steps
    shuffle.
    """
    # tf feeds two plan branches (the dfreq aggregate and the tf<->df join)
    # — materialized so the Arrow term-counting kernel runs once per action
    tf = materialized(term_frequencies(df, text_col=text_col, id_col=id_col))
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))  # 1 row, broadcast
    scored = (
        tf.join(dfreq, "__tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__score",
            (F.col("__tf").cast("double") * F.col("__n")) / (F.col("__df") + F.lit(1)),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__score").desc(), F.col("__tok").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(
            F.col(id_col),
            F.col("__tok").alias("term"),
            F.round("__score", 6).alias("tfidf"),
            F.col("term_rank").cast("int").alias("term_rank"),
        )
    )


def word_bigram_topk(df: DataFrame, text_col: str = "text", k: int = 25) -> DataFrame:
    """Corpus-wide top-k word bigrams with counts — the n-gram census a
    corpus report runs (boilerplate detection, collocation mining, the
    repeated-template smell test before training).

    All-Catalyst: split -> adjacent-pair zip_with -> explode stays narrow
    (token instances never shuffle); ONE shuffle for the count aggregate
    (map-side partials collapse the per-partition bigram space first); the
    top-k is TakeOrderedAndProject, never a full sort.  The LIMIT carries a
    total order (count desc, bigram asc) per the oracle-parity rules.
    """
    words = F.split(F.col(text_col), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        df.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )


def word_bigram_topk_sql(
    table: str = "documents", text_col: str = "text", k: int = 25
) -> str:
    """The identical census as DuckDB SQL (oracle twin).  1-based list
    indexing: i ranges over [1, len-1], pairing arr[i] with arr[i+1] —
    exactly the Spark slice/zip_with pairs."""
    return f"""
WITH ws AS (
  SELECT string_split({text_col}, ' ') AS arr FROM {table}
),
p AS (
  SELECT arr[i] || ' ' || arr[i + 1] AS bigram
  FROM ws, unnest(range(1, len(arr))) AS t(i)
)
SELECT bigram, count(*) AS n
FROM p
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT {k}
"""


def bigram_pmi_topk(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 30,
) -> DataFrame:
    """Collocation mining: top-k word bigrams by pointwise-mutual-information
    lift, ``lift = P(xy) / (P(x)P(y)) = n_xy * N / (n_x * n_y)`` (PMI is its
    log; the report ships the exact fixed-point lift so PMI derives without
    a cross-engine transcendental).

    Shape: the bigram census and the unigram census are each ONE count
    shuffle over exploded tokens (map-side partials collapse the vocab per
    partition first); the corpus total re-enters as a 1-row broadcast
    cross-join; the two vocabulary joins are plain hash joins AQE is free to
    broadcast (a natural-language vocab is ~1e6 rows at any corpus size —
    far under fact scale).  Top-k is TakeOrderedAndProject with a total
    order (lift desc, bigram asc).

    Numeric parity: ``lift_fp = floor(1000 * N * n_xy / (n_x * n_y))`` in
    pure int64 on both engines.  Bounds: N*n_xy*1000 <= 9.2e18 holds for
    N*n_xy <= 9.2e15, i.e. corpora to ~1e8 tokens with hub bigrams to 1e7;
    beyond that the production path widens the numerator to DECIMAL(38,0)
    (same floor-div semantics) — the int64 oracle keeps DuckDB free of
    HUGEINT columns (round-2 lesson).
    """
    words = F.split(F.col(text_col), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # ONE bigram census feeds both the candidate set and the corpus total
    # (materialized: vocab-scale, two downstream branches — same discipline as
    # the minhash signature reuse); the unigram census is the second
    # token-level shuffle.  The corpus explodes are narrow.
    census = materialized(
        df.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    bg = census.filter(F.col("n_xy") >= min_count)
    uni = (
        df.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    total = census.agg(F.sum("n_xy").alias("n_total"))
    scored = (
        bg.withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("bigram"), " ").getItem(1))
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_y")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "n_xy",
            "n_x",
            "n_y",
            "n_total",
            F.expr("1000 * n_total * n_xy DIV (n_x * n_y)").alias("lift_fp"),
        )
    )
    return scored.orderBy(F.col("lift_fp").desc(), F.col("bigram").asc()).limit(k)


def bigram_pmi_topk_sql(
    table: str = "documents",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 30,
) -> str:
    """Oracle twin: same censuses, same int64 floor-div lift."""
    return f"""
WITH ws AS (
  SELECT string_split({text_col}, ' ') AS arr FROM {table}
),
bg AS (
  SELECT arr[i] || ' ' || arr[i + 1] AS bigram, count(*) AS n_xy
  FROM ws, unnest(range(1, len(arr))) AS t(i)
  GROUP BY 1
  HAVING count(*) >= {min_count}
),
uni AS (
  SELECT w, count(*) AS n_w
  FROM ws, unnest(arr) AS u(w)
  GROUP BY 1
),
tot AS (
  SELECT count(*) AS n_total
  FROM ws, unnest(range(1, len(arr))) AS t(i)
)
SELECT bigram, n_xy, x.n_w AS n_x, y.n_w AS n_y, n_total,
       1000 * n_total * n_xy // (x.n_w * y.n_w) AS lift_fp
FROM bg
JOIN uni x ON x.w = string_split(bigram, ' ')[1]
JOIN uni y ON y.w = string_split(bigram, ' ')[2]
CROSS JOIN tot
ORDER BY lift_fp DESC, bigram ASC
LIMIT {k}
"""


def vocab_head_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (10, 100, 1000),
) -> DataFrame:
    """Vocabulary concentration report: what fraction of all corpus tokens
    the top-k most frequent words cover, for each k — the Zipf-head check
    that sizes stopword lists, tokenizer vocabularies, and predicts dedup
    gains from boilerplate.

    Shape: ONE count shuffle for the unigram census; the top-max(k) cut is
    TakeOrderedAndProject (never a global sort over the vocabulary); the
    cumulative sum runs on <= max(k) rows in a single partition
    (metadata-scale by construction); the corpus total re-enters as a 1-row
    broadcast.  Coverage is fixed-point int64 (guard: covered * 1e6 needs
    total <= 9.2e12 tokens; wider corpora widen to DECIMAL(38,0)).
    """
    from pyspark.sql import Window

    kmax = max(ks)
    words = F.split(F.col(text_col), " ")
    uni = (
        df.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uni = materialized(uni)  # feeds the top-k cut AND the corpus total
    total = uni.agg(F.sum("n").alias("total_tokens"))
    top = (
        uni.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(kmax)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("w").asc())
            ),
        )
    )
    cum = top.withColumn(
        "covered_tokens",
        F.sum("n").over(
            Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # A requested k larger than the vocabulary must report FULL coverage
    # (covered = total at rank = |vocab|), not silently drop its row — so
    # each k picks the deepest cumulative row with rank <= k (max_by over
    # the <= kmax cum rows; inequality join is broadcast, metadata-scale).
    ks_rows = total.select(
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"),
        "total_tokens",
    )
    return (
        ks_rows.join(F.broadcast(cum), F.col("rank") <= F.col("k"))
        .groupBy("k", "total_tokens")
        .agg(F.expr("max_by(covered_tokens, rank)").alias("covered_tokens"))
        .select(
            "k",
            "covered_tokens",
            "total_tokens",
            F.expr("1000000 * covered_tokens DIV total_tokens").alias(
                "coverage_fp"
            ),
        )
    )


def vocab_head_coverage_sql(
    table: str = "documents",
    text_col: str = "text",
    ks: tuple[int, ...] = (10, 100, 1000),
) -> str:
    """Oracle twin.  Window sums over BIGINT widen to HUGEINT in DuckDB —
    cast back to BIGINT (the no-HUGEINT oracle rule).  Ks beyond the
    vocabulary size take the deepest cum row (full coverage), same as the
    Spark side's rank <= k max_by."""
    kmax = max(ks)
    klist = ", ".join(str(k) for k in ks)
    return f"""
WITH ws AS (
  SELECT string_split({text_col}, ' ') AS arr FROM {table}
),
uni AS (
  SELECT w, count(*) AS n FROM ws, unnest(arr) AS u(w) GROUP BY w
),
top AS (
  SELECT w, n, CAST(row_number() OVER (ORDER BY n DESC, w ASC) AS INTEGER)
           AS rank
  FROM uni ORDER BY n DESC, w ASC LIMIT {kmax}
),
cum AS (
  SELECT rank,
         CAST(sum(n) OVER (ORDER BY rank
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS covered_tokens
  FROM top
),
ks AS (SELECT CAST(unnest([{klist}]) AS INTEGER) AS k),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM uni)
SELECT k, arg_max(covered_tokens, rank) AS covered_tokens, total_tokens,
       1000000 * arg_max(covered_tokens, rank) // total_tokens
         AS coverage_fp
FROM ks JOIN cum ON rank <= k, tot
GROUP BY k, total_tokens
"""


# ---------------------------------------------------------------------------
# Character/lexical diversity: log-free quality signals
# ---------------------------------------------------------------------------
#
# Entropy-style diversity WITHOUT libm logarithms (the repo-wide rule:
# cross-engine hashability forbids transcendental functions in aggregated
# values — see trigram_lm).  Two exact-rational signals instead:
#
#   * Simpson diversity 1 - sum(p_i^2) over the doc's character
#     distribution, in the unbiased form (n(n-1) denominator), emitted as
#     a 1e6 fixed-point integer: low values flag repeated-character /
#     boilerplate junk the way low entropy would, with identical ordering
#     power and zero float risk;
#   * type-token ratio: distinct words / words, 1e6 fixed-point — the
#     classic lexical-richness gate.
#
# Plan shape: TTR is NARROW (array_distinct over the token array, per
# row).  Simpson needs per-(doc, char) counts: explode -> two hash
# aggregates keyed by doc_id — the char explosion never leaves its
# partition before the first combine (map-side partial aggregation
# collapses each partition's (doc, char) pairs first), then ONE shuffle
# on doc_id, reused by the second aggregate and the TTR join (same key).
# Final per-source rollup is metadata-scale.


def char_diversity_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-``group_col`` diversity report: ``n_docs``, fixed-point sums of
    per-doc Simpson character diversity and word type-token ratio.  Docs
    with fewer than 2 characters or no words are excluded (both signals
    are undefined there)."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != F.lit(""))
    tokens = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(chars).alias("__c"),
    )
    per_char = base.groupBy(id_col, "__c").agg(
        F.first(group_col).alias("__g"), F.count(F.lit(1)).alias("__n")
    )
    per_doc = per_char.groupBy(id_col).agg(
        F.first("__g").alias(group_col),
        F.sum("__n").alias("__len"),
        F.sum(F.col("__n") * F.col("__n")).alias("__ss"),
    )
    simpson_fp = F.expr(
        "(__len * __len - __ss) * 1000000 div (__len * (__len - 1))"
    )
    ttr = df.select(
        F.col(id_col),
        F.expr(
            f"size(array_distinct(filter(split({text_col}, ' '), "
            "t -> t != ''))) * cast(1000000 as bigint)"
        ).alias("__ttr_num"),
        F.size(tokens).cast("long").alias("__n_tok"),
    ).where(F.col("__n_tok") > 0)
    return (
        per_doc.where(F.col("__len") >= 2)
        .join(ttr, id_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(simpson_fp).alias("simpson_fp_sum"),
            F.sum(F.expr("__ttr_num div __n_tok")).alias("ttr_fp_sum"),
        )
    )


def char_diversity_stats_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> str:
    """Oracle twin: same explode -> count -> exact-integer identities."""
    return f"""
WITH ch AS (
  SELECT {id_col}, {group_col},
         unnest(list_filter(string_split({text_col}, ''), c -> c <> '')) AS c
  FROM {table}
),
cc AS (
  SELECT {id_col}, any_value({group_col}) AS g, c, count(*) AS n
  FROM ch GROUP BY {id_col}, c
),
per_doc AS (
  SELECT {id_col}, any_value(g) AS g,
         CAST(sum(n) AS BIGINT) AS len, CAST(sum(n * n) AS BIGINT) AS ss
  FROM cc GROUP BY {id_col}
),
ttr AS (
  SELECT {id_col},
         CAST(len(list_distinct(list_filter(string_split({text_col}, ' '),
                                            t -> t <> ''))) AS BIGINT)
           * 1000000 AS ttr_num,
         CAST(len(list_filter(string_split({text_col}, ' '),
                              t -> t <> '')) AS BIGINT) AS n_tok
  FROM {table}
)
SELECT d.g AS {group_col}, count(*) AS n_docs,
       CAST(sum((d.len * d.len - d.ss) * 1000000
                // (d.len * (d.len - 1))) AS BIGINT) AS simpson_fp_sum,
       CAST(sum(t.ttr_num // t.n_tok) AS BIGINT) AS ttr_fp_sum
FROM per_doc d JOIN ttr t USING ({id_col})
WHERE d.len >= 2 AND t.n_tok > 0
GROUP BY d.g
"""


def vocab_growth(
    df: DataFrame,
    bucket_docs: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative token count and
    cumulative DISTINCT vocabulary as the corpus grows in ``bucket_docs``
    -sized doc-id prefixes — the corpus-sizing diagnostic (is the
    vocabulary saturating? how fast do new tokens appear?).

    Scale shape: the naive form needs a running distinct SET over the
    whole vocabulary; the first-seen decomposition kills that state
    (user_growth's trick on a much larger key domain): each word charges
    exactly one bucket — the bucket of its FIRST-appearance doc — so
    cumulative vocabulary is a running sum over the metadata-scale bucket
    rollup.  One token-census shuffle (word key, carrying min doc id and
    count partials), one bucket rollup, one cumsum window over
    bucket-count rows.

    Returns (bucket, n_docs, cum_tokens, cum_vocab) with bucket = first
    doc id of the prefix block.
    """
    bucket_of = lambda c: (c - (c % bucket_docs)).cast("long")
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).alias("__w"),
    )
    # the ONE token-scale shuffle: the word census (min first doc).  The
    # per-bucket token totals do NOT need the explode — size(split) is a
    # narrow per-doc expression, so that aggregate's map-side partials
    # reduce to bucket-count rows before any exchange.
    per_word = toks.groupBy("__w").agg(F.min(id_col).alias("__first_doc"))
    word_buckets = per_word.groupBy(
        bucket_of(F.col("__first_doc")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("__new_vocab"))
    n_toks = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    )
    docs_b = df.groupBy(bucket_of(F.col(id_col)).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks.cast("long")).alias("__toks"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_b.join(word_buckets, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.sum(F.coalesce("__toks", F.lit(0))).over(w).alias("cum_tokens"),
            F.sum(F.coalesce("__new_vocab", F.lit(0)))
            .over(w)
            .alias("cum_vocab"),
        )
    )


def vocab_growth_sql(
    bucket_docs: int = 100,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Oracle twin of :func:`vocab_growth`."""
    b = bucket_docs
    return f"""
WITH toks AS (
  SELECT {id_col}, t AS w
  FROM {table}, unnest(string_split({text_col}, ' ')) AS u(t)
  WHERE t <> ''
),
per_word AS (
  SELECT w, min({id_col}) AS first_doc, count(*) AS n FROM toks GROUP BY 1
),
wb AS (
  SELECT first_doc - (first_doc % {b}) AS bucket, count(*) AS new_vocab
  FROM per_word GROUP BY 1
),
tb AS (
  SELECT {id_col} - ({id_col} % {b}) AS bucket, count(*) AS toks
  FROM toks GROUP BY 1
),
db AS (
  SELECT {id_col} - ({id_col} % {b}) AS bucket, count(*) AS n_docs
  FROM {table} GROUP BY 1
)
SELECT CAST(db.bucket AS BIGINT) AS bucket, db.n_docs,
       CAST(sum(coalesce(tb.toks, 0)) OVER (
         ORDER BY db.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       CAST(sum(coalesce(wb.new_vocab, 0)) OVER (
         ORDER BY db.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM db
LEFT JOIN tb ON tb.bucket = db.bucket
LEFT JOIN wb ON wb.bucket = db.bucket
"""
