"""LLM-data-pipeline queries (SURVEY §7.2.6, BASELINE.json north star):
dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), similarity search
over embeddings, text analysis, multimodal column plumbing.

Oracle parity strategy: every hash/signature is pure int64 arithmetic
(functions.hashing) and every similarity score is a sequential double fold —
both reproduce bit-for-bit in DuckDB (verified), so even the MinHash LSH
candidate set is oracle-checked exactly.  Oracle SQL is *generated* from the
same frozen constants the Spark operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sqlexpr
from ..functions.hashing import MINHASH_P, MINHASH_PERMS, SIMHASH_MOD, poly_hash_sql
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    fuzzy_dedup_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
)
from ..operators.multimodal import (
    attach_media_payload,
    attach_payload,
    extract_media_features,
    hamming_near_pairs,
    image_avg_hashes,
    resize_payloads,
)
from ..operators.similarity import (
    block_near_dup_pairs,
    block_top_pairs,
    contrastive_topk,
    cosine_topk,
    ivf_ann_topk,
    knn_join,
    label_centroid_stats,
    lsh_ann_topk,
    prefix_dim_recall,
)
from ..operators.clustering import (
    embedding_scatter,
    embedding_scatter_sql,
    pq_ann_topk,
    pq_ann_topk_sql,
    pq_code_census,
    pq_code_census_sql,
)
from ..operators.textops import (
    BPE_TOKEN_PATTERN,
    EN_STOPWORDS,
    bigram_pmi_topk,
    bigram_pmi_topk_sql,
    bpe_token_count,
    doc_fingerprint,
    lang_id_heuristic,
    ngram_jaccard_pairs,
    repetition_signals,
    stopword_ratio,
    text_stats,
    tfidf_top_terms,
    trigram_lm_score,
)
from ..session import leg_session
from ..sources.parquet import load_table
from . import QueryDef
from ..operators.caching import materialized

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content, deterministic winner (min doc_id).


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "n_dups")


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents GROUP BY text
"""

# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidate pairs, exactly oracle-checked: the DuckDB
# side brute-forces all pairs and applies the same band-collision predicate
# to the same integer signatures.

_BANDS = 4
_ROWS_PER_BAND = len(MINHASH_PERMS) // _BANDS
_EST_THRESHOLD = 0.5


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", shingle_len=5, bands=_BANDS)
    return pairs.filter(F.col("est_jaccard") >= _EST_THRESHOLD)


def _sig_ctes() -> str:
    """Shared shingle->signature oracle CTEs (``sh``, ``sig``) — ONE
    definition for the three minhash-family oracles (candidate pairs,
    banding diagnostics, fuzzy dedup), mirroring the Spark side's shared
    signature kernel: parity depends on these never drifting apart."""
    ph = poly_hash_sql("s")
    sig_items = ", ".join(
        f"list_min(list_transform(hh, h -> ({a}*h+{b}) % {MINHASH_P}))"
        for a, b in MINHASH_PERMS
    )
    return f"""sh AS (
  SELECT doc_id,
    list_transform(
      list_distinct(list_transform(range(1, greatest(length(text)-4, 1)+1),
                    i -> substr(text, CAST(i AS INTEGER), 5))),
      s -> {ph}) AS hh
  FROM documents),
sig AS (SELECT doc_id, [{sig_items}] AS sg FROM sh)"""


def _band_conds() -> list[str]:
    """Per-band equality conjunctions over the signature slots (1-based),
    shared by the candidate-pair and fuzzy-dedup oracles."""
    conds = []
    for b in range(_BANDS):
        slots = range(b * _ROWS_PER_BAND + 1, (b + 1) * _ROWS_PER_BAND + 1)
        conds.append(
            "(" + " AND ".join(f"s1.sg[{j}] = s2.sg[{j}]" for j in slots) + ")"
        )
    return conds


def _minhash_sql() -> str:
    band_conds = _band_conds()
    n = len(MINHASH_PERMS)
    return f"""
WITH {_sig_ctes()}
SELECT s1.doc_id AS doc_id_1, s2.doc_id AS doc_id_2,
       CAST(len(list_filter(range(1, {n + 1}),
                j -> s1.sg[CAST(j AS INTEGER)] = s2.sg[CAST(j AS INTEGER)])) AS DOUBLE)/{n}.0
         AS est_jaccard
FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
WHERE ({" OR ".join(band_conds)})
  AND CAST(len(list_filter(range(1, {n + 1}),
           j -> s1.sg[CAST(j AS INTEGER)] = s2.sg[CAST(j AS INTEGER)])) AS DOUBLE)/{n}.0
      >= {_EST_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# LSH banding diagnostics: bucket-size skew per band — run BEFORE the pair
# join on a new corpus (the join is quadratic in the hottest bucket).


def minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_band_stats

    return lsh_band_stats(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", bands=_BANDS
    )


def _minhash_band_stats_sql() -> str:
    band_selects = []
    for b in range(_BANDS):
        slots = range(b * _ROWS_PER_BAND + 1, (b + 1) * _ROWS_PER_BAND + 1)
        sig_expr = " || '-' || ".join(f"CAST(sg[{j}] AS VARCHAR)" for j in slots)
        band_selects.append(
            f"SELECT {b} AS band_idx, {sig_expr} AS band_sig FROM sig"
        )
    union = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH {_sig_ctes()},
e AS (
  {union}
),
bk AS (SELECT band_idx, band_sig, count(*) AS b FROM e GROUP BY 1, 2)
SELECT CAST(band_idx AS INTEGER) AS band_idx,
       count(*) AS n_buckets,
       CAST(sum(b) AS BIGINT) AS n_docs,
       CAST(max(b) AS BIGINT) AS max_bucket,
       CAST(sum(b * (b - 1) // 2) AS BIGINT) AS candidate_pairs
FROM bk
GROUP BY band_idx
"""


# ---------------------------------------------------------------------------
# Production-shaped fuzzy dedup: LSH candidates -> exact Jaccard verify.
# Exact-verification work is bounded by the candidate count instead of the
# block pair count — the architecture that survives 100 TB.


def fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_dedup_pairs(docs, "text", "doc_id")


def _fuzzy_dedup_sql() -> str:
    ph = poly_hash_sql("s")
    band_conds = _band_conds()
    n = len(MINHASH_PERMS)
    est = (
        f"CAST(len(list_filter(range(1, {n + 1}), "
        f"j -> s1.sg[CAST(j AS INTEGER)] = s2.sg[CAST(j AS INTEGER)])) AS DOUBLE)/{n}.0"
    )
    jac = (
        "CAST(len(list_intersect(g1.grams, g2.grams)) AS DOUBLE) "
        "/ (len(g1.grams) + len(g2.grams) - len(list_intersect(g1.grams, g2.grams)))"
    )
    return f"""
WITH {_sig_ctes()},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(
      list_distinct(list_transform(range(1, greatest(length(text)-2, 1)+1),
                    i -> substr(text, CAST(i AS INTEGER), 3))),
      s -> {ph})) AS grams
  FROM documents),
cand AS (
  SELECT s1.doc_id AS doc_id_1, s2.doc_id AS doc_id_2, {est} AS est_jaccard
  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
  WHERE ({" OR ".join(band_conds)}) AND {est} >= {_EST_THRESHOLD})
SELECT doc_id_1, doc_id_2, est_jaccard, {jac} AS jaccard
FROM cand
JOIN g g1 ON doc_id_1 = g1.doc_id
JOIN g g2 ON doc_id_2 = g2.doc_id
WHERE {jac} >= 0.7
"""


def dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded-LSH candidate stage against EXACT ground
    truth (all pairs with char-3-gram Jaccard >= 0.7) — the dedup
    sibling of ann_recall/pq_recall: 'measure, don't guess' applied to
    the near-dup pipeline's probabilistic half.  Candidate pairs come
    from the production minhash path; truth is the quadratic definition
    over a BROADCAST gram table (doc-count rows of int64 gram lists —
    the quality-gauge query is run on samples at scale, never the full
    corpus, so the quadratic is the point, not a bug).  Deterministic
    frozen hashing makes even the recall of a probabilistic index
    hash-checkable.  Output (1 row): n_true_pairs, n_candidate_pairs,
    n_hit, recall_ppm.  Excluded from the bench set (quadratic gauge)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..functions.fast_hash import ngram_hash_lists

    docs = load_table(spark, sf_dir, "documents")
    cand = (
        minhash_lsh_pairs(docs, "text", "doc_id", shingle_len=5, bands=_BANDS)
        .filter(F.col("est_jaccard") >= _EST_THRESHOLD)
        .select("doc_id_1", "doc_id_2")
    )
    gschema = StructType(
        [
            docs.schema["doc_id"],
            StructField("grams", ArrayType(LongType()), False),
        ]
    )

    def grams(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "grams": ngram_hash_lists(pdf["text"].tolist(), 3),
                }
            )

    g = docs.select("doc_id", "text").mapInPandas(grams, gschema)
    a = g.select(F.col("doc_id").alias("doc_id_1"), F.col("grams").alias("g1"))
    b = g.select(F.col("doc_id").alias("doc_id_2"), F.col("grams").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2"))
    union = F.size("g1") + F.size("g2") - inter
    truth = materialized(
        a.join(F.broadcast(b), F.col("doc_id_1") < F.col("doc_id_2"))
        .where(inter.cast("double") / union >= 0.7)
        .select("doc_id_1", "doc_id_2")
    )
    hit = truth.join(cand, ["doc_id_1", "doc_id_2"])
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true_pairs",
            "n_candidate_pairs",
            "n_hit",
            F.expr(
                "CASE WHEN n_true_pairs = 0 THEN CAST(1000000 AS BIGINT)"
                " ELSE 1000000 * n_hit DIV n_true_pairs END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_candidate_pairs = 0 THEN CAST(0 AS BIGINT)"
                " ELSE 1000000 * n_hit DIV n_candidate_pairs END"
            ).alias("precision_ppm"),
        )
    )


def _dedup_recall_sql() -> str:
    ph = poly_hash_sql("s")
    band_conds = _band_conds()
    n = len(MINHASH_PERMS)
    est = (
        f"CAST(len(list_filter(range(1, {n + 1}), "
        f"j -> s1.sg[CAST(j AS INTEGER)] = s2.sg[CAST(j AS INTEGER)])) AS DOUBLE)/{n}.0"
    )
    jac = (
        "CAST(len(list_intersect(g1.grams, g2.grams)) AS DOUBLE) "
        "/ (len(g1.grams) + len(g2.grams) - len(list_intersect(g1.grams, g2.grams)))"
    )
    return f"""
WITH {_sig_ctes()},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(
      list_distinct(list_transform(range(1, greatest(length(text)-2, 1)+1),
                    i -> substr(text, CAST(i AS INTEGER), 3))),
      s -> {ph})) AS grams
  FROM documents),
cand AS (
  SELECT s1.doc_id AS d1, s2.doc_id AS d2
  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
  WHERE ({" OR ".join(band_conds)}) AND {est} >= {_EST_THRESHOLD}),
truth AS (
  SELECT g1.doc_id AS d1, g2.doc_id AS d2
  FROM g g1 JOIN g g2 ON g1.doc_id < g2.doc_id
  WHERE {jac} >= 0.7),
h AS (SELECT count(*) AS n_hit FROM truth JOIN cand USING (d1, d2))
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidate_pairs,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN (SELECT count(*) FROM truth) = 0
            THEN CAST(1000000 AS BIGINT)
            ELSE CAST(1000000 * n_hit // (SELECT count(*) FROM truth)
                      AS BIGINT) END AS recall_ppm,
       CASE WHEN (SELECT count(*) FROM cand) = 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(1000000 * n_hit // (SELECT count(*) FROM cand)
                      AS BIGINT) END AS precision_ppm
FROM h
"""


# ---------------------------------------------------------------------------
# Incremental-ingest dedup: which NEW docs near-duplicate the EXISTING
# corpus — the cross-frame form of fuzzy dedup (batch bands broadcast,
# corpus streams through the candidate probe).

def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_join

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return minhash_join(batch, corpus, "text", "doc_id")


def _incremental_dedup_sql() -> str:
    ph = poly_hash_sql("s")
    n = len(MINHASH_PERMS)
    band_conds = _band_conds()
    est = (
        f"CAST(len(list_filter(range(1, {n + 1}), "
        f"j -> s1.sg[CAST(j AS INTEGER)] = s2.sg[CAST(j AS INTEGER)])) AS DOUBLE)/{n}.0"
    )
    jac = (
        "CAST(len(list_intersect(g1.grams, g2.grams)) AS DOUBLE) "
        "/ (len(g1.grams) + len(g2.grams) - len(list_intersect(g1.grams, g2.grams)))"
    )
    return f"""
WITH {_sig_ctes()},
g AS (
  SELECT doc_id,
    list_distinct(list_transform(
      list_distinct(list_transform(range(1, greatest(length(text)-2, 1)+1),
                    i -> substr(text, CAST(i AS INTEGER), 3))),
      s -> {ph})) AS grams
  FROM documents),
cand AS (
  SELECT s1.doc_id AS doc_id_new, s2.doc_id AS doc_id_old,
         {est} AS est_jaccard
  FROM sig s1 JOIN sig s2
    ON s1.doc_id % 10 = 0 AND s2.doc_id % 10 <> 0
  WHERE ({" OR ".join(band_conds)}) AND {est} >= {_EST_THRESHOLD})
SELECT doc_id_new, doc_id_old, est_jaccard, {jac} AS jaccard
FROM cand
JOIN g g1 ON doc_id_new = g1.doc_id
JOIN g g2 ON doc_id_old = g2.doc_id
WHERE {jac} >= 0.7
"""


# ---------------------------------------------------------------------------
# Near-dup clusters: fuzzy pairs -> connected components (canonical = min id).


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = fuzzy_dedup_pairs(docs, "text", "doc_id")
    return connected_components(pairs, "doc_id_1", "doc_id_2")


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME component decomposition computed by the alternating
    large-star/small-star algorithm (operators.dedup.
    connected_components_star, Kiveris et al.): O(log n) rounds where
    min-label propagation needs O(diameter) — the CC you run when
    components can be long chains (cross-document near-dup bridges at
    web scale).  Output contract identical to dedup_components and
    value-gated against the same recursive reachability oracle, so the
    driver proves ALGORITHM EQUIVALENCE, not just plausibility."""
    from ..operators.dedup import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = fuzzy_dedup_pairs(docs, "text", "doc_id")
    return connected_components_star(pairs, "doc_id_1", "doc_id_2")


def _dedup_components_sql() -> str:
    return f"""
WITH RECURSIVE p AS (
  SELECT doc_id_1, doc_id_2 FROM ({_fuzzy_dedup_sql()})
),
edges AS (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM p
  UNION
  SELECT doc_id_2, doc_id_1 FROM p
),
reach AS (
  SELECT a AS node, a AS peer FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.peer = e.a
),
comp AS (SELECT node, min(peer) AS component_id FROM reach GROUP BY node),
sizes AS (SELECT component_id, count(*) AS comp_size
          FROM comp GROUP BY component_id)
SELECT c.node AS doc_id, c.component_id, s.comp_size
FROM comp c JOIN sizes s USING (component_id)
"""


# ---------------------------------------------------------------------------
# Canonical selection: components -> the document to KEEP per near-dup
# cluster (largest n_chars, id-ascending tiebreak) — the last step that
# turns dedup analysis into an actionable keep/remove list.


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import canonical_per_component

    docs = load_table(spark, sf_dir, "documents")
    pairs = fuzzy_dedup_pairs(docs, "text", "doc_id")
    comps = connected_components(pairs, "doc_id_1", "doc_id_2")
    return canonical_per_component(comps, docs)


def _dedup_canonical_sql() -> str:
    return f"""
WITH comps AS ({_dedup_components_sql()}),
j AS (
  SELECT c.component_id, c.comp_size, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
  FROM comps c JOIN documents d USING (doc_id)
)
SELECT component_id, comp_size, doc_id AS canonical_id,
       CAST(n_chars AS BIGINT) AS canonical_size
FROM j WHERE rk = 1
"""


def source_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE duplication census — the curation decision the dedup
    pipeline feeds: for each source, total docs, docs the near-dup
    keep-list would DROP (component members that are not their
    component's canonical), and the drop rate in ppm.  A source with an
    outsized drop_ppm is scraped-duplicate-heavy and gets down-weighted
    or re-crawled.  Composition of the existing pair->component->
    canonical stages plus two source rollups; the per-source frame is
    metadata-scale."""
    from ..operators.dedup import canonical_per_component

    docs = load_table(spark, sf_dir, "documents")
    pairs = fuzzy_dedup_pairs(docs, "text", "doc_id")
    comps = connected_components(pairs, "doc_id_1", "doc_id_2")
    keep = canonical_per_component(comps, docs).select(
        F.col("canonical_id").alias("doc_id")
    )
    dropped = comps.select("doc_id").join(keep, "doc_id", "left_anti")
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    drops = (
        docs.select("doc_id", "source")
        .join(dropped, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("__nd"))
    )
    return (
        totals.join(drops, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("__nd", F.lit(0).cast("long")).alias("n_dropped"),
            F.expr(
                "1000000 * coalesce(__nd, 0) DIV n_docs"
            ).alias("drop_ppm"),
        )
    )


def _source_dup_report_sql() -> str:
    return f"""
WITH comps AS ({_dedup_components_sql()}),
j AS (
  SELECT c.component_id, c.doc_id,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
  FROM comps c JOIN documents d USING (doc_id)
),
dropped AS (SELECT doc_id FROM j WHERE rk > 1),
tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
dr AS (
  SELECT d.source, count(*) AS nd
  FROM dropped JOIN documents d USING (doc_id) GROUP BY 1
)
SELECT t.source, t.n_docs,
       CAST(coalesce(dr.nd, 0) AS BIGINT) AS n_dropped,
       1000000 * coalesce(dr.nd, 0) // t.n_docs AS drop_ppm
FROM tot t LEFT JOIN dr ON dr.source = t.source
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints (53-bit, integer-exact cross-engine).


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(load_table(spark, sf_dir, "documents"))


_SIMHASH_SQL = f"""
WITH th AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t -> {poly_hash_sql("t", SIMHASH_MOD)}) AS hh
  FROM documents)
SELECT doc_id,
  CAST(list_sum(list_transform(range(0, 53), k ->
    CASE WHEN list_sum(list_transform(hh, h ->
           CASE WHEN (h // CAST(power(2, k) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END)) AS BIGINT) AS simhash
FROM th
"""

def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS (Charikar/Manku et al. — the Google
    web-dedup read path, carrying simhash_fingerprint to its decision):
    banded Hamming LSH over the 53-bit fingerprints — two 27/26-bit
    bands, the pigeonhole minimum for distance 1, so each band is as
    selective as the completeness guarantee allows — finds every pair
    within Hamming distance 1 via a plain band equi-join, exact XOR
    popcount verify (operators.dedup.simhash_near_pairs).  The
    quadratic-definition oracle proves the banding admits no misses
    (the image_phash discipline applied to the text fingerprint)."""
    from ..operators.dedup import simhash_fingerprints, simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(
        simhash_fingerprints(docs), max_dist=1
    )


_SIMHASH_FP_CTE = f"""th AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t -> {poly_hash_sql("t", SIMHASH_MOD)}) AS hh
  FROM documents),
fp AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 53), k ->
      CASE WHEN list_sum(list_transform(hh, h ->
             CASE WHEN (h // CAST(power(2, k) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END)) AS BIGINT) AS simhash
  FROM th)"""

_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_FP_CTE}
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


def simhash_band_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding DECISION table for the SimHash dedup engine (VERDICT r09
    watch #1 — size the band-collision risk before it bites): per-band
    bucket census (operators.dedup.simhash_band_stats, lsh_band_stats'
    Hamming sibling) over the corpus fingerprints for TWO schemes — the
    production pigeonhole-minimum 2-band/27-bit banding simhash_pairs
    runs, and the 4-band/14-bit scheme (audio_dedup's dist-3 banding,
    and the narrower-band alternative for a clustering corpus).
    ``max_bucket`` / ``candidate_pairs`` per band are exactly what
    decides between the minimum banding and the capped fallback
    (simhash_near_pairs_capped) on a new corpus.  One fingerprint pass
    feeds both schemes."""
    from ..operators.caching import materialized
    from ..operators.dedup import simhash_band_stats

    docs = load_table(spark, sf_dir, "documents")
    fp = materialized(simhash_fingerprints(docs))
    out = []
    for n_bands in (2, 4):
        out.append(
            simhash_band_stats(fp, n_bands=n_bands).select(
                F.lit(n_bands).cast("int").alias("n_bands"),
                "band_idx", "n_buckets", "n_docs", "max_bucket",
                "candidate_pairs",
            )
        )
    return out[0].unionByName(out[1])


def _simhash_band_stats_sql() -> str:
    def band_val(n_bands: int, i: int) -> str:
        width = (53 + n_bands - 1) // n_bands
        shifted = f"(simhash // {2 ** (i * width)})"
        if i == n_bands - 1:
            return shifted
        return f"({shifted} % {2 ** width})"

    selects = []
    for n_bands in (2, 4):
        for i in range(n_bands):
            selects.append(
                f"SELECT {n_bands} AS n_bands, {i} AS band_idx, "
                f"{band_val(n_bands, i)} AS val FROM fp"
            )
    bands = "\n  UNION ALL ".join(selects)
    return f"""
WITH {_SIMHASH_FP_CTE},
bands AS (
  {bands}
),
buckets AS (
  SELECT n_bands, band_idx, val, count(*) AS b
  FROM bands GROUP BY n_bands, band_idx, val
)
SELECT CAST(n_bands AS INTEGER) AS n_bands,
       CAST(band_idx AS INTEGER) AS band_idx,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(b) AS BIGINT) AS n_docs,
       CAST(max(b) AS BIGINT) AS max_bucket,
       CAST(sum(b * (b - 1) // 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY n_bands, band_idx
"""


def index_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness gauge (operators.clustering.coarse_cell_drift) —
    the DATA-driven retrain trigger beside the store's corpus-version
    token: per-cell occupancy drift of the base-trained coarse quantizer
    between the base corpus (vec_id % 10 != 0, the streaming index's
    training split) and the full corpus, in exact integer ppm.  Large
    drift = centroids no longer sit where the data does = retrain (bump
    the corpus version) instead of appending to the streaming index."""
    from ..operators.clustering import coarse_cell_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return coarse_cell_drift(
        emb, F.col("vec_id") % 10 != 0, n_cells=8
    )


def _index_drift_report_sql() -> str:
    from ..operators.clustering import coarse_cell_drift_sql

    return coarse_cell_drift_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )


def index_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain trigger's SECOND axis (operators.clustering.
    pq_distortion_report): index_drift_report's occupancy gauge answers
    'did the data MOVE between cells'; this answers 'do the base-trained
    codebooks still FIT the data' — per-cell mean PQ reconstruction
    error (the exact error the ADC serve path pays), base corpus vs full
    corpus, in integer micro-units.  A cell with steady occupancy but
    growing distortion is the staleness mode the occupancy gauge cannot
    see: arrivals land in the right cell but far from every codebook
    centroid, so the index still FINDS them and ranks them badly.  Same
    fixture split as the drift family (train on vec_id % 10 != 0), same
    one-narrow-pass + n_cells-row-aggregate shape."""
    from ..operators.clustering import pq_distortion_report

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_distortion_report(
        emb, F.col("vec_id") % 10 != 0, n_cells=8
    )


def _index_distortion_report_sql() -> str:
    from ..operators.clustering import pq_distortion_report_sql

    return pq_distortion_report_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )


def ann_filtered_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED (hybrid) vector search over the saved IVF-PQ index — the
    production 'top-k among rows WHERE <metadata predicate>' shape every
    vector store serves: the codes artifact is built as an
    ATTRIBUTE-PAYLOAD index (the label column rides in the code table,
    ivf_pq_build meta_cols), so the serve-time predicate pushes down
    into the index scan itself — zero serve-time joins, then the exact
    ivf_pq_batch ADC plan (one filtered codes scan for the 8-query set,
    broadcast probe frame, per-query top-10 windows).  Oracle: the
    batched ADC CTEs with the same candidate predicate applied before
    the per-query window."""
    from ..operators.clustering import (
        _query_vectors,
        ivf_pq_adc_batch,
        ivf_pq_build,
    )
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        load_coarse_centroids,
        load_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    if not all(
        has_artifact(store, a)
        for a in ("ivfpq_codes_labeled", "ivf_centroids", "pq_codebooks")
    ):
        ivf_pq_build(
            emb, store, n_cells=8,
            meta_cols=("label",), codes_name="ivfpq_codes_labeled",
        )
    cents = load_pq_codebooks(spark, store)
    cell_ids, cvecs = load_coarse_centroids(spark, store)
    codes = load_artifact(spark, store, "ivfpq_codes_labeled").where(
        F.col("label") == 1
    )
    queries = _query_vectors(emb, 8, "embedding", "vec_id", 4, 16)
    return ivf_pq_adc_batch(
        spark, codes, cents, cell_ids, cvecs, queries, topk=10, n_probe=2
    )


def _ann_filtered_batch_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_batch_sql

    return ivf_pq_ann_batch_sql(
        n_queries=8, topk=10, n_cells=8, n_probe=2, corpus_where="label = 1"
    )


def ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the FILTERED ADC path vs the exact L2
    top-10 AMONG THE PREDICATE'S ROWS — the quality gauge every
    approximate read path in this repo ships with (ann_recall /
    pq_recall / ivf_pq_recall / graph_ann_batch_recall), applied to
    hybrid search: filtering shrinks every probed cell, so the
    cell-pruning loss can be WORSE under a predicate than over the full
    corpus — exactly what this measures.  One exact pass: the 8-query
    frame broadcasts into a cross join over the label=1 slice and one
    window ranks all queries."""
    from pyspark.sql import Window as _W

    from ..operators.clustering import _sq_dist

    emb = load_table(spark, sf_dir, "embeddings")
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= 64)
    )
    approx = ann_filtered_batch(spark, sf_dir).select("query_id", "vec_id")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.broadcast(
        valid.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), vec.alias("__qv")
        )
    )
    w = _W.partitionBy("query_id").orderBy("d", F.col("vec_id").asc())
    exact = (
        valid.where(F.col("label") == 1)
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            F.expr(
                sqlexpr.sq_dist(
                    sqlexpr.to_double_arr("`embedding`"), "`__qv`"
                )
            ).alias("d"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        # exact is <= |Q| * 10 rows — broadcast it so the hit join never
        # shuffles the approx side
        approx.join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        q.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.lit(10).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.expr(
                "1000000 * coalesce(n_hit, CAST(0 AS BIGINT)) DIV 10"
            ).cast("long").alias("recall_ppm"),
        )
    )


def _ann_filtered_recall_sql() -> str:
    dist = (
        "list_sum(list_transform(generate_series(1, len(e.v)), "
        "i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])))"
    )
    return f"""
WITH approx AS (
  SELECT query_id, vec_id FROM ({_ann_filtered_batch_sql()}) i
),
q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings
  WHERE vec_id < 8 AND embedding IS NOT NULL AND len(embedding) >= 64
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE label = 1 AND embedding IS NOT NULL AND len(embedding) >= 64
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {dist}, e.vec_id) AS rn
    FROM e CROSS JOIN q) r
  WHERE rn <= 10
),
hits AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM approx JOIN exact USING (query_id, vec_id)
  GROUP BY query_id
)
SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       coalesce(h.n_hit, 0) AS n_hit,
       CAST(1000000 * coalesce(h.n_hit, 0) // 10 AS BIGINT) AS recall_ppm
FROM q LEFT JOIN hits h USING (query_id)
"""


# ---------------------------------------------------------------------------
# Drift -> retrain ACTION loop (VERDICT r09 ask #2): index_drift_report
# senses; index_retrain decides and executes.  The fixture engineers real
# drift deterministically: the arrival rows (vec_id % 10 = 0) are shifted
# +4.0 per coordinate — out-of-distribution mass that lands in few cells,
# ~15% total occupancy drift at every SF (measured 149k-170k ppm at
# sf0.001/0.01/0.1), so thresholds of 50k and 500k ppm bracket it robustly
# and drive BOTH decision branches as hash-checked driver queries.

_RETRAIN_BASE_WHERE = "vec_id % 10 <> 0"

_DRIFTED_CORPUS_SQL = """(SELECT vec_id,
        CASE WHEN vec_id % 10 = 0
             THEN list_transform(embedding, x -> CAST(x AS DOUBLE) + 4.0)
             ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END
          AS embedding
 FROM embeddings
 WHERE embedding IS NOT NULL AND len(embedding) >= 64)"""


def _drifted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain fixture: base rows verbatim, arrival rows (vec_id %
    10 = 0) shifted by +4.0 per coordinate — a deterministic
    distribution change (float->double cast then one IEEE add, bit-equal
    in DuckDB's list_transform twin)."""
    emb = load_table(spark, sf_dir, "embeddings")
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= 64)
    )
    shifted = F.transform(
        F.col("embedding"), lambda x: x.cast("double") + F.lit(4.0)
    )
    plain = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return valid.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 0, shifted)
        .otherwise(plain)
        .alias("embedding"),
    )


def _index_retrain_serve(
    spark: SparkSession, sf_dir: str, threshold_ppm: int
) -> DataFrame:
    """Run the full drift->retrain->serve loop
    (operators.clustering.index_retrain) at the given threshold and
    return the batched serve plus the decision columns.  The standing
    index seeds from a gated build-once ``rtrbase_*`` triple (train on
    base, code the union — streaming_index_update's contract); every
    call hardlink-clones it to the working ``rtrlive_*`` names so the
    DESTRUCTIVE swap path runs for real per call while the query stays
    deterministic (the clone is the harness's determinism seam, same
    role as the streaming queries' per-call re-drain)."""
    from ..operators.clustering import (
        _query_vectors,
        build_index_triple,
        index_retrain,
        ivf_pq_serve_batch,
    )
    from ..sinks.artifacts import artifact_store, clone_artifact, has_artifact

    corpus = _drifted_corpus(spark, sf_dir)
    base_where = F.col("vec_id") % 10 != 0
    store = artifact_store(sf_dir)
    if not has_artifact(store, "rtrbase_codes"):
        build_index_triple(
            spark, corpus, corpus.where(base_where), store, "rtrbase",
            n_cells=8,
        )
    for part in ("centroids", "codebooks", "codes"):
        clone_artifact(store, f"rtrbase_{part}", f"rtrlive_{part}")
    retrained, drift = index_retrain(
        spark, corpus, base_where, store, threshold_ppm, prefix="rtrlive",
        n_cells=8,
    )
    queries = _query_vectors(corpus, 8, "embedding", "vec_id", 4, 16)
    serve = ivf_pq_serve_batch(
        spark, store, queries, topk=10, n_probe=2,
        codes_name="rtrlive_codes",
        centroids_name="rtrlive_centroids",
        codebooks_name="rtrlive_codebooks",
    )
    return serve.select(
        "*",
        F.lit(drift).cast("long").alias("drift_ppm"),
        F.lit(bool(retrained)).alias("retrained"),
    )


def index_retrain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN branch: threshold 50k ppm sits below the fixture's
    measured ~150k drift, so the loop retrains the quantizer on the
    CURRENT corpus, re-codes every row, swaps the triple via the
    committed-next-then-swap protocol, and serves the 8-query batch from
    the RETRAINED index — hash-equal to a batch build that trains on the
    full corpus (the oracle's Lloyd CTEs over the drifted-corpus derived
    table).  Reference analog: the initialize-time rebuild contract
    (DataMigrationProcess.java:106-135), made data-driven."""
    return _index_retrain_serve(spark, sf_dir, threshold_ppm=50_000)


def index_retrain_hold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLD branch: threshold 500k ppm sits above the measured drift, so
    the decision is NO — the store is left byte-untouched (pytest pins
    the inodes) and the serve comes from the STANDING base-trained index:
    hash-equal to train-on-base/code-the-union
    (ivf_pq_batch_trained_on_sql, stream_index_search's proven oracle
    contract) over the drifted corpus."""
    return _index_retrain_serve(spark, sf_dir, threshold_ppm=500_000)


def _retrain_drift_scalar_sql() -> str:
    from ..operators.clustering import coarse_cell_drift_sql

    drift = coarse_cell_drift_sql(
        table=_DRIFTED_CORPUS_SQL, train_where=_RETRAIN_BASE_WHERE, n_cells=8
    )
    return (
        "(SELECT CAST(sum(share_drift_ppm) AS BIGINT) AS total "
        f"FROM ({drift}) dd)"
    )


def _index_retrain_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_batch_sql

    serve = ivf_pq_ann_batch_sql(
        table=_DRIFTED_CORPUS_SQL, n_queries=8, topk=10, n_cells=8, n_probe=2
    )
    return f"""
SELECT r.query_id, r.vec_id, r.cell, r.adc_dist, r.rn,
       d.total AS drift_ppm, d.total > 50000 AS retrained
FROM ({serve}) r, {_retrain_drift_scalar_sql()} d
"""


def _index_retrain_hold_sql() -> str:
    from ..operators.clustering import ivf_pq_batch_trained_on_sql

    serve = ivf_pq_batch_trained_on_sql(
        table=_DRIFTED_CORPUS_SQL, train_where=_RETRAIN_BASE_WHERE,
        n_queries=8, topk=10, n_cells=8, n_probe=2,
    )
    return f"""
SELECT r.query_id, r.vec_id, r.cell, r.adc_dist, r.rn,
       d.total AS drift_ppm, d.total > 500000 AS retrained
FROM ({serve}) r, {_retrain_drift_scalar_sql()} d
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard within blocks (lang x length bucket): the verify
# stage that LSH candidates would feed at scale.


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "len_blk", (F.col("n_chars") / 100).cast("long")
    )
    return ngram_jaccard_pairs(docs, ["lang", "len_blk"], threshold=0.7, n=3)


_NGRAM_JACCARD_SQL = f"""
WITH g AS (
  SELECT doc_id, lang, n_chars // 100 AS len_blk,
    list_distinct(list_transform(
      list_distinct(list_transform(range(1, greatest(length(text)-2, 1)+1),
                    i -> substr(text, CAST(i AS INTEGER), 3))),
      s -> {poly_hash_sql("s")})) AS grams
  FROM documents)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
FROM g a JOIN g b ON a.lang = b.lang AND a.len_blk = b.len_blk AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
"""

# ---------------------------------------------------------------------------
# Text stats / quality features.


def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(load_table(spark, sf_dir, "documents"))


_TEXT_STATS_SQL = """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars_measured,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens,
       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS unique_ratio
FROM documents
"""

# ---------------------------------------------------------------------------
# Corpus rollup per language.


def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(28,10)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


_LANG_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       round(CAST(sum(CAST(n_chars AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_chars,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""

# ---------------------------------------------------------------------------
# BPE-ish pre-tokenizer counts per source.


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN)).alias("n_bpe")
    )
    return per_doc.groupBy("source").agg(
        F.sum("n_bpe").alias("bpe_tokens"), F.count(F.lit(1)).alias("n_docs")
    )


_TOKEN_COUNT_SQL = f"""
SELECT source,
       CAST(sum(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}'))) AS BIGINT) AS bpe_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
"""

# ---------------------------------------------------------------------------
# Language-ID heuristic (stopword density).


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_heuristic(load_table(spark, sf_dir, "documents"))


_STOPLIST = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
_LANG_ID_SQL = f"""
SELECT doc_id,
       round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOPLIST}))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS en_stop_ratio,
       CASE WHEN round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOPLIST}))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
"""

def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation census: the lang_id heuristic's predictions
    against the fixture's ground-truth ``lang`` column as a confusion
    matrix — (truth, guess, n_docs, truth-class share in ppm).  The
    evaluation pattern every model-assisted curation stage needs (judge
    the cheap heuristic before trusting it to filter 100 TB); one narrow
    projection + one census shuffle + a truth-class broadcast join-back.
    """
    from ..operators.textops import lang_id_heuristic

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id_heuristic(docs).select("doc_id", "lang_guess")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    cm = joined.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = cm.groupBy("lang").agg(F.sum("n_docs").alias("__t"))
    return cm.join(F.broadcast(totals), "lang").select(
        "lang",
        "lang_guess",
        "n_docs",
        F.expr("1000000 * n_docs DIV __t").alias("share_ppm"),
    )


_LANGID_CONFUSION_SQL = f"""
WITH pred AS (
  SELECT doc_id, lang,
         CASE WHEN round(CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN ({_STOPLIST}))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) >= 0.05
              THEN 'en' ELSE 'other' END AS lang_guess
  FROM documents
),
cm AS (
  SELECT lang, lang_guess, count(*) AS n_docs FROM pred GROUP BY 1, 2
),
t AS (SELECT lang, sum(n_docs) AS tot FROM cm GROUP BY 1)
SELECT cm.lang, cm.lang_guess, cm.n_docs,
       CAST(1000000 * cm.n_docs // t.tot AS BIGINT) AS share_ppm
FROM cm JOIN t USING (lang)
"""


# ---------------------------------------------------------------------------
# Whole-document polynomial fingerprint.


def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(load_table(spark, sf_dir, "documents"))


_DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, {poly_hash_sql("text")} AS fingerprint FROM documents
"""

# ---------------------------------------------------------------------------
# Generator/lateral operator (Generate in Spark plans): explode the token
# array and aggregate — the long-form shape of corpus vocabulary stats.


def token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    return (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


_TOKEN_FREQUENCY_SQL = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC LIMIT 50
"""

# ---------------------------------------------------------------------------
# Composed training-data prep: quality gate -> language gate -> exact dedup
# -> token accounting, one lineage.  The shape of a real corpus-prep job:
# enrichment is one narrow pass, dedup is the only wide op (1 shuffle on
# text), and the winner join-back rides the same key.


def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus prep, now with the governance stage FIRST
    (VERDICT r11 ask #5): redact PII -> per-doc stats over the REDACTED
    text -> quality gate -> exact dedup (on the redacted form, since
    redaction is what ships) — the stage order a real curation run uses,
    so downstream stats/dedup can never see a raw address.  The
    deterministic PII seeding is pii_redact's (the fixture text carries
    no natural PII; seeding proves the stage executes), and
    ``n_pii_redacted`` carries the per-doc erasure evidence through the
    pipeline.  Per-row Catalyst transforms + one dedup shuffle — the
    same scale shape as before the stage was added."""
    from ..operators.corpus import EMAIL_PATTERN, IPV4_PATTERN, redact_pii
    from .corpus import _pii_seeded

    docs = load_table(spark, sf_dir, "documents")
    seeded = _pii_seeded(docs)
    n_pii = F.regexp_count(F.col("text2"), F.lit(EMAIL_PATTERN)) + F.regexp_count(
        F.col("text2"), F.lit(IPV4_PATTERN)
    )
    red_docs = seeded.select(
        "doc_id",
        redact_pii(F.col("text2")).alias("red"),
        n_pii.cast("long").alias("n_pii_redacted"),
    )
    tokens = F.split(F.col("red"), " ")
    enriched = red_docs.select(
        "doc_id",
        "red",
        "n_pii_redacted",
        F.size(tokens).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(tokens)).cast("double") / F.size(tokens), 6
        ).alias("unique_ratio"),
        stopword_ratio(F.col("red"), EN_STOPWORDS).alias("en_stop_ratio"),
        bpe_token_count(F.col("red")).alias("bpe_tokens"),
    )
    filtered = enriched.filter(
        (F.col("n_tokens") >= 16)
        & (F.col("unique_ratio") >= 0.3)
        & (F.col("en_stop_ratio") >= 0.05)
    )
    winners = filtered.groupBy("red").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups")
    )
    final = filtered.join(winners.select("doc_id", "n_dups"), "doc_id")
    return final.select(
        "doc_id", "n_tokens", "bpe_tokens", "en_stop_ratio",
        "n_pii_redacted", "n_dups",
    )


def _llm_prep_sql() -> str:
    from ..operators.corpus import EMAIL_PATTERN, IPV4_PATTERN

    return f"""
WITH s AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0
               THEN 'mail user' || CAST(doc_id % 100 AS VARCHAR)
                    || '@example.com ' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.0.1 ' ELSE '' END)
         || text AS text2
  FROM documents),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text2, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{IPV4_PATTERN}', '<IP>', 'g') AS red,
         CAST(len(regexp_extract_all(text2, '{EMAIL_PATTERN}'))
              + len(regexp_extract_all(text2, '{IPV4_PATTERN}')) AS BIGINT)
           AS n_pii_redacted
  FROM s),
enriched AS (
  SELECT doc_id, red, n_pii_redacted,
         CAST(len(string_split(red, ' ')) AS INTEGER) AS n_tokens,
         round(CAST(len(list_distinct(string_split(red, ' '))) AS DOUBLE)
               / len(string_split(red, ' ')), 6) AS unique_ratio,
         round(CAST(len(list_filter(string_split(red, ' '),
                                    t -> t IN ({_STOPLIST}))) AS DOUBLE)
               / len(string_split(red, ' ')), 6) AS en_stop_ratio,
         CAST(len(regexp_extract_all(red, '{BPE_TOKEN_PATTERN}')) AS INTEGER)
           AS bpe_tokens
  FROM red),
filtered AS (
  SELECT * FROM enriched
  WHERE n_tokens >= 16 AND unique_ratio >= 0.3 AND en_stop_ratio >= 0.05),
winners AS (
  SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM filtered GROUP BY red)
SELECT f.doc_id, f.n_tokens, f.bpe_tokens, f.en_stop_ratio,
       f.n_pii_redacted, w.n_dups
FROM filtered f JOIN winners w ON f.doc_id = w.doc_id
"""


_LLM_PREP_SQL = _llm_prep_sql()

# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k (the baseline/oracle)
# and LSH-bucketed ANN (the scale path; approximate -> rows-only check).

_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({x})+1), "
    "i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE))), (a, b) -> a + b)"
)


def _dot_sql(x: str, y: str) -> str:
    return _DOT.format(x=x, y=y)


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return cosine_topk(emb, query, k=20)


_EMBEDDING_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       {_dot_sql("embedding", "qv")}
         / (sqrt({_dot_sql("embedding", "embedding")}) * sqrt({_dot_sql("qv", "qv")})) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, vec_id ASC LIMIT 20
"""


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al. 2009
    — the fusion every production RAG stack runs over its lexical and
    vector legs): the BM25-shaped integer-ppm lexical top-20
    (operators.textops.lexical_topk, lexical_search's scorer) and the
    exact cosine top-20 (embedding_topk's leg; documents and embeddings
    share the id space in the fixture) fuse by

        rrf_ppm(d) = 1e6 DIV (60 + lex_rank) + 1e6 DIV (60 + vec_rank)

    with a missing leg contributing 0 — RRF's standard k=60 constant in
    the repo's exact-integer fixed point, so the fused ranking itself
    hash-checks (no float score normalization, the property RRF is
    chosen for in production).  Scale shape: both legs end in k-row
    frames, so ranking and fusion are metadata-scale; the corpus is
    touched once per leg (and the vector leg swaps for any of the
    repo's ANN serve paths at scale — same contract)."""
    from pyspark.sql import Window as _W

    from ..operators.textops import lexical_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = lexical_topk(docs, ["spark", "window", "join"], k=20).select(
        "doc_id",
        F.row_number()
        .over(_W.orderBy(F.desc("score_ppm"), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    vec = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(_W.orderBy(F.desc("cosine"), F.col("vec_id").asc()))
        .alias("vec_rank"),
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
        (
            F.coalesce(
                F.expr("1000000 DIV (60 + lex_rank)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr("1000000 DIV (60 + vec_rank)"), F.lit(0).cast("long")
            )
        ).cast("long").alias("rrf_ppm"),
    )
    return fused.orderBy(F.desc("rrf_ppm"), F.col("doc_id").asc()).limit(10)


def _hybrid_search_rrf_sql() -> str:
    from ..operators.textops import lexical_topk_sql

    lex = lexical_topk_sql(["spark", "window", "join"], k=20)
    return f"""
WITH lex AS ({lex}),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS lex_rank
  FROM lex),
vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         {_dot_sql("embedding", "qv")}
           / (sqrt({_dot_sql("embedding", "embedding")})
              * sqrt({_dot_sql("qv", "qv")})) AS cosine
  FROM embeddings, vq
  ORDER BY cosine DESC, vec_id ASC LIMIT 20),
vecr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS vec_rank
  FROM vec),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         CAST(coalesce(l.lex_rank, 0) AS INTEGER) AS lex_rank,
         CAST(coalesce(v.vec_rank, 0) AS INTEGER) AS vec_rank,
         CAST(coalesce(1000000 // (60 + l.lex_rank), 0)
            + coalesce(1000000 // (60 + v.vec_rank), 0) AS BIGINT)
           AS rrf_ppm
  FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
SELECT doc_id, lex_rank, vec_rank, rrf_ppm
FROM fused ORDER BY rrf_ppm DESC, doc_id ASC LIMIT 10
"""


def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return lsh_ann_topk(emb, query, k=20, n_bits=6)


def _lsh_proj_sql(x: str, b: int) -> str:
    """Plane-b projection as SQL: the same LCG weights and sequential fold
    as operators.similarity (_plane_matrix / _seq_fold_dots)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({x})+1), "
        f"i -> CAST({x}[i] AS DOUBLE) * "
        f"(CAST((1103515245 * ({b * 4096} + i - 1) + 12345) % 2147483648 AS DOUBLE) "
        f"/ 2147483648.0 * 2.0 - 1.0))), (a, v) -> a + v)"
    )


def _lsh_bucket_sql(x: str, n_bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_lsh_proj_sql(x, b)} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )


# The full LSH search is SQL-expressible because the hyperplanes are a
# frozen LCG formula, not stored state — so even the "approximate" path
# gets an exact oracle (bucket ids AND cosines hash-checked).
_EMBEDDING_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, ({_lsh_bucket_sql("embedding", 6)}) AS bucket
  FROM embeddings),
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       {_dot_sql("b.embedding", "q.qv")}
         / (sqrt({_dot_sql("b.embedding", "b.embedding")})
            * sqrt({_dot_sql("q.qv", "q.qv")})) AS cosine
FROM b, q WHERE b.bucket = q.qbucket
ORDER BY cosine DESC, b.vec_id ASC LIMIT 20
"""


def _lsh_bucket_artifact(spark: SparkSession, sf_dir: str):
    """Build-or-LOAD the persisted LSH bucket table (``lsh_buckets_b6``)
    — shared by the plain and the filtered probes.  ATTRIBUTE-PAYLOAD
    (VERDICT r09 ask #3): the label rides beside the bucket id so a
    filtered probe pushes its predicate into the bucket-table scan
    itself; the unfiltered probe is unchanged (column pruning drops the
    label from its scan)."""
    from ..operators.similarity import with_bucket_ids
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        save_artifact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    if not has_artifact(store, "lsh_buckets_b6"):
        save_artifact(
            with_bucket_ids(emb, "embedding", n_bits=6).select(
                "vec_id", "embedding", "label", "__bucket"
            ),
            store,
            "lsh_buckets_b6",
        )
    return emb, load_artifact(spark, store, "lsh_buckets_b6")


def ann_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN over a query SET, served from the SAVED bucket table
    (VERDICT r07 ask #3 + r08 ask #3 — batching composed with the
    artifact store): the corpus bucket table (vec_id, embedding,
    __bucket) is built ONCE and persisted (``lsh_buckets_b6``); every
    call after loads it and only bucket-hashes the |Q| query vectors
    before the broadcast bucket equi-join + per-query top-10 window
    (operators.similarity.lsh_ann_batch_bucketed) — never |Q| corpus
    scans, and the corpus bucketing pass is gone from the per-call path.
    The bucketing kernel is deterministic, so probing the saved table is
    value-identical to rebucketing inline: the oracle is unchanged."""
    from ..operators.similarity import lsh_ann_batch_bucketed

    emb, bucketed = _lsh_bucket_artifact(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_ann_batch_bucketed(bucketed, queries, k=10, n_bits=6)


def lsh_filtered_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED (hybrid) vector search on the LSH leg (VERDICT r09 ask
    #3 — the shape ann_filtered_batch proved on IVF-PQ, completed here):
    the persisted bucket table is an attribute-payload index (label
    rides beside the bucket id), so the serve-time predicate pushes INTO
    the bucket-table scan — zero serve-time joins — then the exact
    batched probe plan (broadcast query buckets, equi-join, per-query
    top-10 window).  Candidates are label-filtered BEFORE the window, so
    the top-k is a true 'top-k WHERE label' among the query's bucket."""
    from ..operators.similarity import lsh_ann_batch_bucketed

    emb, bucketed = _lsh_bucket_artifact(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_ann_batch_bucketed(
        bucketed.where(F.col("label") == 1), queries, k=10, n_bits=6
    )


def lsh_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the FILTERED LSH probe vs exact cosine
    top-10 AMONG THE PREDICATE'S ROWS (ann_filtered_recall's discipline
    on the LSH leg): filtering shrinks every bucket, so single-bucket
    probing loses more under a predicate — exactly what this measures.
    One exact pass: the 8-query frame broadcasts into a cross join over
    the label=1 slice and one window ranks all queries."""
    from pyspark.sql import Window as _W

    from ..operators.similarity import cosine

    emb, _ = _lsh_bucket_artifact(spark, sf_dir)
    approx = lsh_filtered_batch(spark, sf_dir).select("query_id", "vec_id")
    q = F.broadcast(
        emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
        )
    )
    w = _W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id").asc()
    )
    exact = (
        emb.where(F.col("label") == 1)
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            cosine("embedding", "__qv").alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        q.select("query_id")
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.lit(10).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.expr(
                "1000000 * coalesce(n_hit, CAST(0 AS BIGINT)) DIV 10"
            ).cast("long").alias("recall_ppm"),
        )
    )


_ANN_LSH_BATCH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, ({_lsh_bucket_sql("embedding", 6)}) AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
      FROM b WHERE vec_id < 8),
s AS (
  SELECT q.query_id, b.vec_id,
         {_dot_sql("b.embedding", "q.qv")}
           / (sqrt({_dot_sql("b.embedding", "b.embedding")})
              * sqrt({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM b JOIN q ON b.bucket = q.qbucket)
SELECT query_id, vec_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s) r
WHERE rn <= 10
"""

def retrieval_eval_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieval_eval's metrics over the LSH serve path — the task-eval
    trilogy's third leg (exact: retrieval_eval; IVF-PQ:
    retrieval_eval_ann; LSH: here): the persisted bucket table serves
    the 8-query batch with the query ids themselves EXCLUDED from the
    candidate scan (a pushed bucket-table filter, the
    lsh_filtered_batch shape — so no self-rank and no post-serve
    re-rank), then the same integer-exact first-rank / MRR /
    precision@10 / hit@10 table with label match as relevance.  A
    bucket can hold fewer than 10 survivors — precision@10 keeps the
    /10 denominator by design (an under-filled probe IS a quality
    miss), the number that makes the three legs comparable."""
    from ..operators.similarity import lsh_ann_batch_bucketed

    emb, bucketed = _lsh_bucket_artifact(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    topk = lsh_ann_batch_bucketed(
        bucketed.where(F.col("vec_id") >= 8), queries, k=10, n_bits=6
    ).select("query_id", "vec_id", "rn")
    lab = emb.select("vec_id", "label")
    with_nlab = lab.withColumnRenamed("label", "nlab").join(
        F.broadcast(topk), "vec_id"
    )
    with_both = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
    ).join(F.broadcast(with_nlab), "query_id")
    rel = F.col("nlab") == F.col("qlab")
    agg = with_both.groupBy("query_id").agg(
        F.coalesce(F.min(F.when(rel, F.col("rn"))), F.lit(0)).alias(
            "first_rank"
        ),
        F.count(F.when(rel, F.lit(1))).alias("n_rel_at_10"),
    )
    return agg.select(
        "query_id",
        F.col("first_rank").cast("int").alias("first_rank"),
        F.expr(
            "CASE WHEN first_rank > 0 THEN 1000000 DIV first_rank "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("rr_ppm"),
        "n_rel_at_10",
        F.expr("1000000 * n_rel_at_10 DIV 10").alias("prec10_ppm"),
        (F.col("n_rel_at_10") > 0).alias("hit10"),
    )


_RETRIEVAL_EVAL_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, label, embedding,
         ({_lsh_bucket_sql("embedding", 6)}) AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlab, embedding AS qv,
             bucket AS qbucket
      FROM b WHERE vec_id < 8),
s AS (
  SELECT q.query_id, q.qlab, b.vec_id, b.label AS nlab,
         {_dot_sql("b.embedding", "q.qv")}
           / (sqrt({_dot_sql("b.embedding", "b.embedding")})
              * sqrt({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM b JOIN q ON b.bucket = q.qbucket
  WHERE b.vec_id >= 8),
ranked AS (
  SELECT query_id, qlab, nlab, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM s) r
  WHERE rn <= 10),
agg AS (
  SELECT query_id,
         coalesce(min(CASE WHEN nlab = qlab THEN rn END), 0) AS first_rank,
         CAST(count(CASE WHEN nlab = qlab THEN 1 END) AS BIGINT)
           AS n_rel_at_10
  FROM ranked GROUP BY query_id)
SELECT query_id,
       CAST(first_rank AS INTEGER) AS first_rank,
       CAST(CASE WHEN first_rank > 0 THEN 1000000 // first_rank
                 ELSE 0 END AS BIGINT) AS rr_ppm,
       n_rel_at_10,
       1000000 * n_rel_at_10 // 10 AS prec10_ppm,
       n_rel_at_10 > 0 AS hit10
FROM agg
"""


# Filtered twin: the candidate side carries the label predicate (applied
# exactly where the Spark side's pushed-down bucket-table scan filter
# lands — before the per-query window); queries stay unfiltered.
_LSH_FILTERED_BATCH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, label,
         ({_lsh_bucket_sql("embedding", 6)}) AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
      FROM b WHERE vec_id < 8),
s AS (
  SELECT q.query_id, b.vec_id,
         {_dot_sql("b.embedding", "q.qv")}
           / (sqrt({_dot_sql("b.embedding", "b.embedding")})
              * sqrt({_dot_sql("q.qv", "q.qv")})) AS cosine
  FROM b JOIN q ON b.bucket = q.qbucket
  WHERE b.label = 1)
SELECT query_id, vec_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s) r
WHERE rn <= 10
"""

_LSH_FILTERED_RECALL_SQL = f"""
WITH approx AS (
  SELECT query_id, vec_id FROM ({_LSH_FILTERED_BATCH_SQL}) i
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 8),
e AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_dot_sql("e.embedding", "q.qv")}
                        / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                           * sqrt({_dot_sql("q.qv", "q.qv")})) DESC,
                      e.vec_id ASC) AS rn
    FROM e CROSS JOIN q) r
  WHERE rn <= 10
),
hits AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM approx JOIN exact USING (query_id, vec_id)
  GROUP BY query_id
)
SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       coalesce(h.n_hit, 0) AS n_hit,
       CAST(1000000 * coalesce(h.n_hit, 0) // 10 AS BIGINT) AS recall_ppm
FROM q LEFT JOIN hits h USING (query_id)
"""


def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return ivf_ann_topk(emb, query, k=20, n_cells=16, n_probe=2)


_EMBEDDING_IVF_SQL = f"""
WITH cent AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 16),
     q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
     acos AS (
       SELECT e.vec_id, e.embedding, c.c_id,
              {_dot_sql("e.embedding", "c.cv")}
                / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                   * sqrt({_dot_sql("c.cv", "c.cv")})) AS ccos
       FROM embeddings e CROSS JOIN cent c),
     assign AS (
       SELECT vec_id, embedding, c_id AS cell FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                                      ORDER BY ccos DESC, c_id) AS rn
         FROM acos) WHERE rn = 1),
     probe AS (
       SELECT c_id AS cell FROM (
         SELECT c.c_id,
                row_number() OVER (ORDER BY
                  {_dot_sql("q.qv", "c.cv")}
                    / (sqrt({_dot_sql("q.qv", "q.qv")})
                       * sqrt({_dot_sql("c.cv", "c.cv")})) DESC, c.c_id) AS rn
         FROM cent c CROSS JOIN q) WHERE rn <= 2)
SELECT a.vec_id, a.cell,
       {_dot_sql("a.embedding", "q.qv")}
         / (sqrt({_dot_sql("a.embedding", "a.embedding")})
            * sqrt({_dot_sql("q.qv", "q.qv")})) AS cosine
FROM assign a JOIN probe USING (cell) CROSS JOIN q
ORDER BY cosine DESC, a.vec_id ASC LIMIT 20
"""


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-blocked kNN-graph construction: coarse cells (the shared
    deterministic quantizer) block the corpus, each cell's per-NODE top-3
    cosine neighbors come out of the bounded Arrow kernel
    (operators.similarity.block_knn_edges), and edges are marked
    RECIPROCAL when both endpoints choose each other — the mutual-kNN
    signal graph clustering and near-dup mining build on.  The pair
    matrix never leaves the executor; the only shuffle is the cell
    groupBy.  Blocking trades edge recall for locality exactly like the
    IVF read path — and is value-gated here because the quantizer is
    deterministic."""
    from ..operators.similarity import block_knn_edges, ivf_cell_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_cell_assign(emb, n_cells=16)
    edges = block_knn_edges(assigned, k=3)
    rev = edges.select(
        F.col("vec_id").alias("__rv"), F.col("nbr_id").alias("__rn")
    )
    return (
        edges.join(
            rev,
            (edges.vec_id == rev.__rn) & (edges.nbr_id == rev.__rv),
            "left",
        )
        .select(
            "cell",
            "vec_id",
            "nbr_id",
            "rn",
            "cosine",
            F.col("__rv").isNotNull().alias("reciprocal"),
        )
    )


# Shared CTE prefix: the deterministic IVF-blocked kNN graph (cells ->
# per-cell quadratic cosine -> per-node top-3).  _KNN_GRAPH_SQL selects the
# edge table itself; the graph-ANN walk oracles build the beam search on
# top of the same prefix, so the searched graph is the audited graph.
_KNN_GRAPH_CTE = f"""cent AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
              WHERE vec_id < 16
                AND embedding IS NOT NULL AND len(embedding) > 0),
     dim AS (SELECT len(cv) AS d FROM cent ORDER BY c_id LIMIT 1),
     acos AS (
       SELECT e.vec_id, e.embedding, c.c_id,
              {_dot_sql("e.embedding", "c.cv")}
                / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                   * sqrt({_dot_sql("c.cv", "c.cv")})) AS ccos
       FROM embeddings e CROSS JOIN cent c, dim
       WHERE e.embedding IS NOT NULL AND len(e.embedding) = dim.d
         AND {_dot_sql("e.embedding", "e.embedding")} > 0),
     assign AS (
       SELECT vec_id, embedding, c_id AS cell FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id
                                      ORDER BY ccos DESC, c_id) AS rn
         FROM acos) WHERE rn = 1),
     edges AS (
       SELECT a.cell, a.vec_id, b.vec_id AS nbr_id,
              {_dot_sql("a.embedding", "b.embedding")}
                / (sqrt({_dot_sql("a.embedding", "a.embedding")})
                   * sqrt({_dot_sql("b.embedding", "b.embedding")})) AS cosine
       FROM assign a JOIN assign b
         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
     sel AS (
       SELECT * FROM (
         SELECT cell, vec_id, nbr_id, cosine,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, nbr_id) AS rn
         FROM edges) WHERE rn <= 3)"""

_KNN_GRAPH_SQL = f"""
WITH {_KNN_GRAPH_CTE}
SELECT s.cell, s.vec_id, s.nbr_id, CAST(s.rn AS INTEGER) AS rn, s.cosine,
       EXISTS (SELECT 1 FROM sel r
               WHERE r.vec_id = s.nbr_id AND r.nbr_id = s.vec_id)
         AS reciprocal
FROM sel s
"""


# ---------------------------------------------------------------------------
# Community detection by synchronous label propagation (Raghavan et al.
# 2007) over the SAME IVF-blocked kNN graph knn_graph value-gates — the
# clustering signal between connected components (too coarse: one bridge
# edge merges topics) and k-means (needs k): communities emerge from edge
# density alone.  Deterministic by construction: synchronous rounds (all
# nodes update from the PREVIOUS round's labels), the new label is the
# most frequent among neighbors with ties broken by smallest label, and
# isolated nodes keep their own — so a fixed round count is exactly
# reproducible on any engine, and the oracle unrolls the rounds as CTEs.
# Scale shape: the graph builds once (one cell groupBy, bounded per-cell
# kernels); each round is ONE label-scale aggregate + window + join —
# dedup_components' eager-round discipline (rounds run via materialized(),
# keeping every plan shallow).

_LPA_ROUNDS = 4


def knn_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation_fixed_rounds
    from ..operators.similarity import block_knn_edges, ivf_cell_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_cell_assign(emb, n_cells=16)
    edges = block_knn_edges(assigned, k=3).select("vec_id", "nbr_id")
    und = edges.union(
        edges.select(
            F.col("nbr_id").alias("vec_id"), F.col("vec_id").alias("nbr_id")
        )
    ).distinct()
    labels = label_propagation_fixed_rounds(
        assigned.select("vec_id"), und,
        node_col="vec_id", src="vec_id", dst="nbr_id", rounds=_LPA_ROUNDS,
    )
    final = labels.select(
        F.col("node").alias("vec_id"), F.col("lab").alias("community")
    )
    census = final.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return final.join(F.broadcast(census), "community").select(
        "vec_id", "community", "n_members"
    )


def _knn_lpa_cte() -> str:
    """Graph prefix + the unrolled LPA rounds, ending in ``final``
    (vec_id, community) — shared by the community query and its purity
    gauge so the graded communities are the audited communities."""
    parts = [
        """und AS (
       SELECT vec_id AS a, nbr_id AS b FROM sel
       UNION
       SELECT nbr_id, vec_id FROM sel)""",
        "l0 AS (SELECT vec_id AS node, vec_id AS lab FROM assign)",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(f"""d{r} AS (
       SELECT u.a AS node, l.lab, count(*) AS cnt
       FROM und u JOIN l{r - 1} l ON l.node = u.b
       GROUP BY u.a, l.lab),
     w{r} AS (
       SELECT node, lab AS new_lab FROM (
         SELECT node, lab,
                row_number() OVER (PARTITION BY node
                                   ORDER BY cnt DESC, lab ASC) AS rn
         FROM d{r}) x WHERE rn = 1),
     l{r} AS (
       SELECT p.node, coalesce(w.new_lab, p.lab) AS lab
       FROM l{r - 1} p LEFT JOIN w{r} w ON w.node = p.node)""")
    rounds_sql = ",\n     ".join(parts)
    return f"""{_KNN_GRAPH_CTE},
     {rounds_sql},
     final AS (SELECT node AS vec_id, lab AS community
               FROM l{_LPA_ROUNDS})"""


def _knn_lpa_sql() -> str:
    return f"""
WITH {_knn_lpa_cte()},
     census AS (SELECT community, count(*) AS n_members
                FROM final GROUP BY community)
SELECT f.vec_id, f.community, c.n_members
FROM final f JOIN census c ON c.community = f.community
"""


def community_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality gauge for the LPA communities — the discipline
    every approximate path here ships with (ann_recall for LSH,
    pq_recall for PQ, now purity for community detection): per
    community, its size, the majority ground-truth label (ties to the
    smallest label), that label's count, and purity = majority/size in
    exact integer ppm.  A pure community rediscovered a label cluster
    from edge density alone; a low-purity one spans labels (a bridge the
    fixed rounds didn't separate).  All metadata-scale past the LPA run:
    one (community, label) census + one window + one size join."""
    from ..operators.graph import label_propagation_fixed_rounds
    from ..operators.similarity import block_knn_edges, ivf_cell_assign
    from pyspark.sql import Window as _W

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_cell_assign(emb, n_cells=16)
    edges = block_knn_edges(assigned, k=3).select("vec_id", "nbr_id")
    und = edges.union(
        edges.select(
            F.col("nbr_id").alias("vec_id"), F.col("vec_id").alias("nbr_id")
        )
    ).distinct()
    comm = label_propagation_fixed_rounds(
        assigned.select("vec_id"), und,
        node_col="vec_id", src="vec_id", dst="nbr_id", rounds=_LPA_ROUNDS,
    ).select(F.col("node").alias("vec_id"), F.col("lab").alias("community"))
    lab = emb.select("vec_id", "label")
    # plain shuffle join (ADVICE r10 #2): comm is |V| rows — one per
    # vector — so broadcasting it is a corpus-scale driver ship-out at
    # large SF; F.broadcast is reserved for the genuinely
    # community-cardinality frames (top, sizes) below
    joined = lab.join(comm, "vec_id")
    by_label = joined.groupBy("community", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = _W.partitionBy("community").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    top = (
        by_label.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "community",
            F.col("label").alias("top_label"),
            F.col("cnt").alias("top_label_count"),
        )
    )
    sizes = joined.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return sizes.join(F.broadcast(top), "community").select(
        "community",
        "n_members",
        "top_label",
        "top_label_count",
        F.expr("1000000 * top_label_count DIV n_members").alias("purity_ppm"),
    )


_COMMUNITY_PURITY_SQL_TAIL = """
     lbl AS (
       SELECT f.community, e.label, count(*) AS cnt
       FROM final f JOIN embeddings e ON e.vec_id = f.vec_id
       GROUP BY f.community, e.label),
     top AS (
       SELECT community, label AS top_label, cnt AS top_label_count
       FROM (
         SELECT community, label, cnt,
                row_number() OVER (PARTITION BY community
                                   ORDER BY cnt DESC, label ASC) AS rn
         FROM lbl) x WHERE rn = 1),
     sizes AS (SELECT community, CAST(sum(cnt) AS BIGINT) AS n_members
               FROM lbl GROUP BY community)
SELECT s.community, s.n_members, t.top_label,
       CAST(t.top_label_count AS BIGINT) AS top_label_count,
       1000000 * CAST(t.top_label_count AS BIGINT) // s.n_members
         AS purity_ppm
FROM sizes s JOIN top t ON t.community = s.community
"""


def _community_purity_sql() -> str:
    return f"""
WITH {_knn_lpa_cte()},{_COMMUNITY_PURITY_SQL_TAIL}"""


def _graph_nodes_and_edges(spark: SparkSession, sf_dir: str):
    """Shared INLINE build for the graph-ANN read path: the deterministic
    IVF-blocked kNN graph (same construction knn_graph value-gates) with
    the node set materialized once — it feeds edge construction AND the
    per-hop candidate probes.  The single-query graph_ann_search /
    graph_ann_recall pair keeps this train-then-serve shape as the
    inline-training originals; every OTHER graph read path serves from
    the persisted graph via :func:`_graph_artifacts`."""
    from ..operators.caching import materialized
    from ..operators.similarity import block_knn_edges, ivf_cell_assign

    emb = load_table(spark, sf_dir, "embeddings")
    nodes = materialized(ivf_cell_assign(emb, n_cells=16))
    edges = materialized(block_knn_edges(nodes, k=3))
    return emb, nodes, edges


def _graph_artifacts(spark: SparkSession, sf_dir: str):
    """Build-or-LOAD the kNN graph from the artifact store (VERDICT r08
    ask #3): first call persists ``graph_nodes``/``graph_edges`` (edges
    committed last, the codes-last gate discipline — a crash between the
    two writes leaves no _SUCCESS on the edge table, so has_artifact
    routes the next call back to a full rebuild); every later call loads
    and serves.  The build is deterministic and parquet round-trips
    doubles bit-exactly, so serve-from-store is value-identical to the
    inline build and the callers' oracles are unchanged."""
    from ..operators.caching import materialized
    from ..operators.similarity import block_knn_edges, ivf_cell_assign
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        save_artifact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    if not (
        has_artifact(store, "graph_nodes")
        and has_artifact(store, "graph_edges")
    ):
        # attribute-payload node table (VERDICT r09 ask #3): the label
        # rides in graph_nodes so filtered walks harvest with zero
        # serve-time joins — unfiltered consumers are unchanged (column
        # pruning drops it from their scans; values identical)
        nodes = materialized(
            ivf_cell_assign(emb, n_cells=16, meta_cols=("label",))
        )
        save_artifact(nodes, store, "graph_nodes")
        save_artifact(block_knn_edges(nodes, k=3), store, "graph_edges")
    nodes = load_artifact(spark, store, "graph_nodes")
    edges = load_artifact(spark, store, "graph_edges")
    return emb, nodes, edges


def graph_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN search (operators.similarity.graph_beam_search):
    deterministic beam walk over the kNN graph — entry at the 16
    quantizer ids, beam 4, 3 hops, every cut tie-broken by id — so the
    whole walk hash-checks against the oracle's unrolled CTE chain.
    Completes the index trilogy's read paths: LSH (embedding_ann_lsh),
    IVF-PQ (ivf_pq), graph (here)."""
    from ..operators.similarity import graph_beam_search

    emb, nodes, edges = _graph_nodes_and_edges(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0)
    return graph_beam_search(nodes, edges, query, k=10, beam=4, hops=3)


def graph_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the graph beam walk vs exact cosine over the graph's
    node universe — the ann_recall/pq_recall/ivf_pq_recall/dedup_recall
    discipline applied to the third index family: every approximate read
    path ships with its quality gauge, and determinism makes even the
    gauge hash-exact."""
    from ..operators.similarity import cosine, graph_beam_search

    emb, nodes, edges = _graph_nodes_and_edges(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0)
    approx = graph_beam_search(nodes, edges, query, k=10, beam=4, hops=3)
    q = F.broadcast(query.select(F.col("embedding").alias("__qv")))
    exact = (
        nodes.crossJoin(q)
        .select(
            "vec_id",
            cosine("embedding", "__qv").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col("vec_id").asc())
        .limit(10)
    )
    hit = approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
    return hit.agg(F.count(F.lit(1)).alias("n_hit")).select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.expr("1000000 * n_hit DIV 10").cast("long").alias("recall_ppm"),
    )


def _graph_beam_cte(
    hops: int = 3, beam: int = 4, n_entry: int = 16, prefix: str = ""
) -> str:
    """The beam walk unrolled as chained CTEs over the shared graph CTE
    prefix (requires assign/sel from _KNN_GRAPH_CTE in scope): v{h} is
    the visited set after hop h; UNION dedups revisited nodes exactly
    because identical vectors score through the identical fold.
    ``prefix`` namespaces every CTE (q, v*, b*, n*, s*) so several walks
    — e.g. the beam-width curve's — coexist in one WITH."""
    p = prefix

    def cos(x: str) -> str:
        return (
            f"{_dot_sql(x, f'{p}q.qv')} / (sqrt({_dot_sql(x, x)})"
            f" * sqrt({_dot_sql(f'{p}q.qv', f'{p}q.qv')}))"
        )

    parts = [
        f"{p}q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f"{p}v0 AS (SELECT a.vec_id, {cos('a.embedding')} AS cosine\n"
        f"       FROM assign a, {p}q WHERE a.vec_id < {n_entry})",
    ]
    for h in range(1, hops + 1):
        parts.append(
            f"{p}b{h - 1} AS (SELECT vec_id FROM {p}v{h - 1} "
            f"ORDER BY cosine DESC, vec_id ASC LIMIT {beam})"
        )
        parts.append(
            f"{p}n{h} AS (SELECT DISTINCT s.nbr_id AS vec_id "
            f"FROM sel s JOIN {p}b{h - 1} USING (vec_id))"
        )
        parts.append(
            f"{p}s{h} AS (SELECT a.vec_id, {cos('a.embedding')} AS cosine\n"
            f"       FROM assign a JOIN {p}n{h} USING (vec_id), {p}q)"
        )
        parts.append(
            f"{p}v{h} AS (SELECT * FROM {p}v{h - 1} "
            f"UNION SELECT * FROM {p}s{h})"
        )
    return ",\n".join(parts)


_GRAPH_ANN_SEARCH_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_cte()}
SELECT vec_id, cosine FROM v3 ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Beam-width tuning curve — the graph leg's knob table, completing the
# tuning-curve trilogy across all three ANN legs (ivf_pq_probe_curve tunes
# n_probe, lsh_nbits_curve tunes n_bits, THIS tunes beam): per beam width
# (1, 2, 4), recall@10 of the walk vs exact cosine over the node universe
# AND the visited-set size — the walk's cost axis (every visited node is
# one point-lookup fetch + one score).  The graph builds once; each walk
# is metadata-scale frontiers.

_BEAM_CURVE_WIDTHS = (1, 2, 4)


def graph_beam_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import materialized
    from ..operators.similarity import cosine, graph_beam_visited

    emb, nodes, edges = _graph_nodes_and_edges(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0)
    q = F.broadcast(query.select(F.col("embedding").alias("__qv")))
    exact = materialized(
        nodes.crossJoin(q)
        .select(
            "vec_id",
            cosine("embedding", "__qv").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    # the per-width beam walks are independent driver-paced hop loops —
    # overlap them from a thread pool (guide §2.6) so one width's hop jobs
    # back-fill the others' driver gaps; the curve rows are then composed
    # in width order exactly as the sequential loop did
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_BEAM_CURVE_WIDTHS)) as pool:
        visited_by_width = list(
            pool.map(
                lambda b: graph_beam_visited(
                    nodes, edges, query, beam=b, hops=3
                ),
                _BEAM_CURVE_WIDTHS,
            )
        )
    out = None
    for b, visited in zip(_BEAM_CURVE_WIDTHS, visited_by_width):
        top = (
            visited.orderBy(F.desc("cosine"), F.col("vec_id").asc())
            .limit(10)
            .select("vec_id")
        )
        nvis = visited.agg(F.count(F.lit(1)).alias("n_visited"))
        hits = top.join(F.broadcast(exact), "vec_id", "left").agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits")
        )
        row = (
            nvis.crossJoin(hits)
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(b).cast("int").alias("beam"),
                "n_visited",
                "n_hits",
                "n_exact",
                F.expr("1000000 * n_hits DIV n_exact").alias("recall_ppm"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("beam")


def _graph_beam_curve_sql() -> str:
    walks = ",\n".join(
        _graph_beam_cte(hops=3, beam=b, prefix=f"w{b}")
        for b in _BEAM_CURVE_WIDTHS
    )
    cand = "\n  UNION ALL\n  ".join(
        f"SELECT {b} AS beam, vec_id FROM (SELECT vec_id FROM w{b}v3 "
        f"ORDER BY cosine DESC, vec_id ASC LIMIT 10) t{b}"
        for b in _BEAM_CURVE_WIDTHS
    )
    vis = "\n  UNION ALL\n  ".join(
        f"SELECT {b} AS beam, count(*) AS n_visited FROM w{b}v3"
        for b in _BEAM_CURVE_WIDTHS
    )
    return f"""
WITH {_KNN_GRAPH_CTE},
{walks},
eq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT vec_id FROM (
    SELECT a.vec_id,
           {_dot_sql("a.embedding", "q.qv")}
             / (sqrt({_dot_sql("a.embedding", "a.embedding")})
                * sqrt({_dot_sql("q.qv", "q.qv")})) AS cosine
    FROM assign a, eq q) s
  ORDER BY cosine DESC, vec_id ASC LIMIT 10),
tot AS (SELECT count(*) AS n_exact FROM exact),
cand AS (
  {cand}),
vis AS (
  {vis}),
hits AS (
  SELECT beam,
         CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM cand LEFT JOIN exact e ON e.vec_id = cand.vec_id
  GROUP BY beam)
SELECT CAST(v.beam AS INTEGER) AS beam,
       CAST(v.n_visited AS BIGINT) AS n_visited,
       h.n_hits, n_exact,
       1000000 * h.n_hits // n_exact AS recall_ppm
FROM vis v JOIN hits h ON h.beam = v.beam
CROSS JOIN tot
ORDER BY beam
"""


def graph_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN beam walk over a query SET, served from the SAVED graph
    (VERDICT r07 ask #3 + r08 ask #3): top-10 per query for the 4
    queries ``vec_id < 4``, walking the persisted ``graph_nodes``/
    ``graph_edges`` artifacts (:func:`_graph_artifacts` — graph
    construction is gone from the per-call path); every per-hop frontier
    cut is a per-query window with the single-query walk's total order
    (operators.similarity.graph_beam_search_batch) — one node-table
    probe per hop serves all queries."""
    from ..operators.similarity import graph_beam_search_batch

    emb, nodes, edges = _graph_artifacts(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4)
    return graph_beam_search_batch(
        nodes, edges, queries, k=10, beam=4, hops=3
    )


def graph_ann_batch_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY recall@10 of the batched beam walk vs exact cosine over
    the graph's node universe — the quality gauge the batched read path
    ships with (VERDICT r07 ask #3: 'per-query recall in the gauges'),
    vs graph_ann_recall's single aggregate row.  The exact side is ONE
    node pass: the 4-query frame broadcasts into a cross join and one
    window ranks all queries at once.  Serves from the persisted graph
    (:func:`_graph_artifacts`, VERDICT r08 ask #3) like graph_ann_batch —
    the gauge must measure the plan production actually runs."""
    from pyspark.sql import Window as _W

    from ..operators.similarity import cosine, graph_beam_search_batch

    emb, nodes, edges = _graph_artifacts(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4)
    approx = graph_beam_search_batch(
        nodes, edges, queries, k=10, beam=4, hops=3
    ).select("query_id", "vec_id")
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
        )
    )
    w = _W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id").asc()
    )
    exact = (
        nodes.crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            cosine("embedding", "__qv").alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        approx.join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        # left side must not carry the broadcast hint (build-left is
        # unsupported for left-outer); the hits side is the small one
        queries.select(F.col("vec_id").alias("query_id"))
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.lit(10).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.expr(
                "1000000 * coalesce(n_hit, CAST(0 AS BIGINT)) DIV 10"
            ).cast("long").alias("recall_ppm"),
        )
    )


def graph_filtered_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED (hybrid) vector search on the GRAPH leg (VERDICT r09 ask
    #3 — ann_filtered_batch's shape completed on the third index
    family): the persisted node table is attribute-payload (label rides
    in ``graph_nodes``), the beam walk stays predicate-BLIND (filtering
    the traversal would disconnect the graph — filtered-DiskANN's
    harvest-side discipline), and the predicate filters the VISITED set
    before the final per-query top-10 — zero serve-time joins, the
    label is already on every scored walk state."""
    from ..operators.similarity import graph_beam_search_batch

    emb, nodes, edges = _graph_artifacts(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4)
    return graph_beam_search_batch(
        nodes, edges, queries, k=10, beam=4, hops=3,
        meta_cols=("label",), harvest_where=F.col("label") == 1,
    )


def graph_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the FILTERED beam walk vs exact cosine
    top-10 among the predicate's rows of the graph's node universe
    (ann_filtered_recall's discipline on the graph leg): the walk is
    label-blind, so its beam spends hops on nodes the harvest then
    drops — filtered recall can be much worse than the unfiltered
    gauge, which is exactly what this measures."""
    from pyspark.sql import Window as _W

    from ..operators.similarity import cosine, graph_beam_search_batch

    emb, nodes, edges = _graph_artifacts(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4)
    approx = graph_beam_search_batch(
        nodes, edges, queries, k=10, beam=4, hops=3,
        meta_cols=("label",), harvest_where=F.col("label") == 1,
    ).select("query_id", "vec_id")
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
        )
    )
    w = _W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("vec_id").asc()
    )
    exact = (
        nodes.where(F.col("label") == 1)
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            cosine("embedding", "__qv").alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.lit(10).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.expr(
                "1000000 * coalesce(n_hit, CAST(0 AS BIGINT)) DIV 10"
            ).cast("long").alias("recall_ppm"),
        )
    )


def _graph_beam_batch_cte(
    hops: int = 3, beam: int = 4, n_entry: int = 16, n_queries: int = 4
) -> str:
    """Batched twin of :func:`_graph_beam_cte`: every walk state carries
    query_id, and the per-hop beam cut is a per-query row_number window —
    each query's CTE chain is exactly its single-query chain."""

    def cos(x: str) -> str:
        return (
            f"{_dot_sql(x, 'q.qv')} / (sqrt({_dot_sql(x, x)})"
            f" * sqrt({_dot_sql('q.qv', 'q.qv')}))"
        )

    parts = [
        f"q AS (SELECT vec_id AS query_id, embedding AS qv "
        f"FROM embeddings WHERE vec_id < {n_queries})",
        f"v0 AS (SELECT q.query_id, a.vec_id, {cos('a.embedding')} AS cosine\n"
        f"       FROM assign a CROSS JOIN q WHERE a.vec_id < {n_entry})",
    ]
    for h in range(1, hops + 1):
        parts.append(
            f"b{h - 1} AS (SELECT query_id, vec_id FROM ("
            f"SELECT query_id, vec_id, row_number() OVER ("
            f"PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn "
            f"FROM v{h - 1}) r WHERE rn <= {beam})"
        )
        parts.append(
            f"n{h} AS (SELECT DISTINCT b.query_id, s.nbr_id AS vec_id "
            f"FROM sel s JOIN b{h - 1} b USING (vec_id))"
        )
        parts.append(
            f"s{h} AS (SELECT n.query_id, a.vec_id, {cos('a.embedding')} AS cosine\n"
            f"       FROM assign a JOIN n{h} n USING (vec_id) "
            f"JOIN q ON q.query_id = n.query_id)"
        )
        parts.append(
            f"v{h} AS (SELECT * FROM v{h - 1} UNION SELECT * FROM s{h})"
        )
    return ",\n".join(parts)


_GRAPH_ANN_BATCH_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_batch_cte()}
SELECT query_id, vec_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM v3) r
WHERE rn <= 10
"""

_GRAPH_ANN_BATCH_RECALL_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_batch_cte()},
approx AS (SELECT query_id, vec_id FROM (
  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM v3) r WHERE rn <= 10),
exact AS (SELECT query_id, vec_id FROM (
  SELECT q.query_id, a.vec_id, row_number() OVER (PARTITION BY q.query_id
      ORDER BY {_dot_sql("a.embedding", "q.qv")}
                 / (sqrt({_dot_sql("a.embedding", "a.embedding")})
                    * sqrt({_dot_sql("q.qv", "q.qv")})) DESC,
               a.vec_id ASC) AS rn
  FROM assign a CROSS JOIN q) r WHERE rn <= 10),
hits AS (
  SELECT query_id, count(*) AS n_hit
  FROM approx JOIN exact USING (query_id, vec_id) GROUP BY query_id)
SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(1000000 * coalesce(h.n_hit, 0) // 10 AS BIGINT) AS recall_ppm
FROM q LEFT JOIN hits h USING (query_id)
"""


def retrieval_eval_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieval_eval's metrics over the GRAPH serve path — the fourth
    and final leg of the task-eval family (exact / IVF-PQ / LSH /
    graph): the persisted graph serves the 4-query batch, the query's
    own row is excluded HARVEST-SIDE (graph_beam_search_batch's
    harvest_where — the traversal stays self-inclusive, since removing
    a node from the walk would change every frontier; filtered-DiskANN's
    discipline applied to self-exclusion), then the identical
    integer-ppm metric table with label match as relevance."""
    from ..operators.similarity import graph_beam_search_batch

    emb, nodes, edges = _graph_artifacts(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4)
    topk = graph_beam_search_batch(
        nodes, edges, queries, k=10, beam=4, hops=3,
        harvest_where=F.col("vec_id") != F.col("query_id"),
    ).select("query_id", "vec_id", "rn")
    lab = emb.select("vec_id", "label")
    with_nlab = lab.withColumnRenamed("label", "nlab").join(
        F.broadcast(topk), "vec_id"
    )
    with_both = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
    ).join(F.broadcast(with_nlab), "query_id")
    rel = F.col("nlab") == F.col("qlab")
    agg = with_both.groupBy("query_id").agg(
        F.coalesce(F.min(F.when(rel, F.col("rn"))), F.lit(0)).alias(
            "first_rank"
        ),
        F.count(F.when(rel, F.lit(1))).alias("n_rel_at_10"),
    )
    return agg.select(
        "query_id",
        F.col("first_rank").cast("int").alias("first_rank"),
        F.expr(
            "CASE WHEN first_rank > 0 THEN 1000000 DIV first_rank "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("rr_ppm"),
        "n_rel_at_10",
        F.expr("1000000 * n_rel_at_10 DIV 10").alias("prec10_ppm"),
        (F.col("n_rel_at_10") > 0).alias("hit10"),
    )


_RETRIEVAL_EVAL_GRAPH_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_batch_cte()},
ranked AS (
  SELECT query_id, vec_id, rn FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM v3 WHERE vec_id <> query_id) r
  WHERE rn <= 10),
lab AS (SELECT vec_id, label FROM embeddings),
j AS (
  SELECT t.query_id, t.rn, nl.label AS nlab, ql.label AS qlab
  FROM ranked t
  JOIN lab nl ON nl.vec_id = t.vec_id
  JOIN lab ql ON ql.vec_id = t.query_id),
agg AS (
  SELECT query_id,
         coalesce(min(CASE WHEN nlab = qlab THEN rn END), 0) AS first_rank,
         CAST(count(CASE WHEN nlab = qlab THEN 1 END) AS BIGINT)
           AS n_rel_at_10
  FROM j GROUP BY query_id)
SELECT query_id,
       CAST(first_rank AS INTEGER) AS first_rank,
       CAST(CASE WHEN first_rank > 0 THEN 1000000 // first_rank
                 ELSE 0 END AS BIGINT) AS rr_ppm,
       n_rel_at_10,
       1000000 * n_rel_at_10 // 10 AS prec10_ppm,
       n_rel_at_10 > 0 AS hit10
FROM agg
"""


# Filtered twins (VERDICT r09 ask #3): the walk CTEs are unchanged
# (traversal is predicate-blind); the label filters the harvested visited
# set BEFORE the final per-query window — the oracle joins embeddings for
# the label, the Spark side already carries it on every walk state.
_GRAPH_FILTERED_BATCH_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_batch_cte()}
SELECT query_id, vec_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
  SELECT v.query_id, v.vec_id, v.cosine,
         row_number() OVER (PARTITION BY v.query_id
                            ORDER BY v.cosine DESC, v.vec_id ASC) AS rn
  FROM v3 v JOIN embeddings e ON e.vec_id = v.vec_id
  WHERE e.label = 1) r
WHERE rn <= 10
"""

_GRAPH_FILTERED_RECALL_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_batch_cte()},
approx AS (SELECT query_id, vec_id FROM (
  SELECT v.query_id, v.vec_id,
         row_number() OVER (PARTITION BY v.query_id
                            ORDER BY v.cosine DESC, v.vec_id ASC) AS rn
  FROM v3 v JOIN embeddings e ON e.vec_id = v.vec_id
  WHERE e.label = 1) r WHERE rn <= 10),
exact AS (SELECT query_id, vec_id FROM (
  SELECT q.query_id, a.vec_id, row_number() OVER (PARTITION BY q.query_id
      ORDER BY {_dot_sql("a.embedding", "q.qv")}
                 / (sqrt({_dot_sql("a.embedding", "a.embedding")})
                    * sqrt({_dot_sql("q.qv", "q.qv")})) DESC,
               a.vec_id ASC) AS rn
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
  CROSS JOIN q WHERE e.label = 1) r WHERE rn <= 10),
hits AS (
  SELECT query_id, count(*) AS n_hit
  FROM approx JOIN exact USING (query_id, vec_id) GROUP BY query_id)
SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(1000000 * coalesce(h.n_hit, 0) // 10 AS BIGINT) AS recall_ppm
FROM q LEFT JOIN hits h USING (query_id)
"""


_GRAPH_ANN_RECALL_SQL = f"""
WITH {_KNN_GRAPH_CTE},
{_graph_beam_cte()},
approx AS (SELECT vec_id FROM v3 ORDER BY cosine DESC, vec_id ASC LIMIT 10),
exact AS (
  SELECT a.vec_id FROM assign a, q
  ORDER BY {_dot_sql("a.embedding", "q.qv")}
             / (sqrt({_dot_sql("a.embedding", "a.embedding")})
                * sqrt({_dot_sql("q.qv", "q.qv")})) DESC, a.vec_id ASC
  LIMIT 10
),
hit AS (SELECT count(*) AS n_hit FROM approx JOIN exact USING (vec_id))
SELECT CAST(10 AS BIGINT) AS k, CAST(n_hit AS BIGINT) AS n_hit,
       CAST(1000000 * n_hit // 10 AS BIGINT) AS recall_ppm
FROM hit
"""


def mmr_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval re-ranking (operators.similarity.
    mmr_rerank): exact top-20 candidates, then greedy MMR selection of 5
    with dyadic lambda=0.75 — the RAG read-path stage between ANN and the
    context window.  The greedy loop runs on the collected candidate
    rows (metadata-scale contract); the oracle unrolls the 5 rounds as
    CTEs with identical float literals and fold orders, so every score
    hash-checks."""
    from ..operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return mmr_rerank(emb, query, k=5, k_candidates=20, lam=0.75)


def _mmr_rerank_sql(k: int = 5, k_candidates: int = 20) -> str:
    def cos(x: str, y: str) -> str:
        return (
            f"{_dot_sql(x, y)} / (sqrt({_dot_sql(x, x)})"
            f" * sqrt({_dot_sql(y, y)}))"
        )

    parts = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        # NULL-relevance rows (zero-norm embeddings: 0/0 -> NULL cosine)
        # are dropped HERE, not left to NULLS-LAST ordering (ADVICE r07):
        # the Python side filters its pool unconditionally, and ordering
        # parity only holds when finite candidates >= k_candidates — an
        # explicit IS NOT NULL makes both engines filter identically even
        # on a degenerate-heavy pool.
        f"cand AS (SELECT * FROM (\n"
        f"    SELECT vec_id, embedding, {cos('embedding', 'qv')} AS rel\n"
        f"    FROM embeddings, q)\n"
        f"  WHERE rel IS NOT NULL"
        f" ORDER BY rel DESC, vec_id ASC LIMIT {k_candidates})",
        "sel1 AS (SELECT 1 AS rank, vec_id, embedding, rel,\n"
        "  0.75 * rel AS mmr_score FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)",
    ]
    for r in range(2, k + 1):
        pcos = cos("c.embedding", "s.embedding")
        parts.append(
            f"pick{r} AS (SELECT {r} AS rank, c.vec_id, c.embedding, c.rel,\n"
            f"  0.75 * c.rel - (1 - 0.75) * (SELECT max({pcos}) FROM sel{r - 1} s)"
            f" AS mmr_score\n"
            f"  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})\n"
            f"  ORDER BY mmr_score DESC, c.vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM pick{r})"
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel AS relevance, mmr_score
FROM sel{k}
"""
    )


def embedding_label_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-similar embedding pairs per label block — the embedding
    near-dup operator shaped to emit evidence even when no pair crosses a
    dedup threshold (fixture embeddings are near-orthogonal).  Pairwise
    scoring + top-k run inside one applyInPandas kernel per block
    (operators.similarity.block_top_pairs): the O(n^2) pair matrix never
    leaves the executor."""
    emb = load_table(spark, sf_dir, "embeddings")
    return block_top_pairs(emb, "label", k=3).select(
        "label", "vec_id_1", "vec_id_2", "cosine", "rn"
    )


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: within-label pairs above a cosine
    threshold (the dedup decision, vs the top-pairs evidence query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return block_near_dup_pairs(emb, "label", threshold=0.35)


_EMBEDDING_NEAR_DUP_SQL = f"""
SELECT a.label, a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       {_dot_sql("a.embedding", "b.embedding")}
         / (sqrt({_dot_sql("a.embedding", "a.embedding")})
            * sqrt({_dot_sql("b.embedding", "b.embedding")})) AS cosine
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_dot_sql("a.embedding", "b.embedding")}
        / (sqrt({_dot_sql("a.embedding", "a.embedding")})
           * sqrt({_dot_sql("b.embedding", "b.embedding")})) >= 0.35
"""

# Threshold sweep for the SemDeDup decision: how aggressive to set the
# cosine cutoff is THE knob of semantic dedup — too low melts distinct
# documents together, too high keeps paraphrase mirrors.  The curve is
# computed from ONE pair pass at the loosest threshold; each row is a
# tighter cutoff's pair count, dropped-doc count (SemDeDup's drop rule:
# any vector with a >= threshold neighbor of LOWER id — no component
# pass needed), and drop rate against the whole corpus.

_SEMDEDUP_CURVE_TS = (0.25, 0.35, 0.5, 0.7)


def semdedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-aggressiveness TUNING TABLE (ivf_pq_probe_curve's
    discipline applied to the dedup family): sweep the SemDeDup cosine
    threshold over one blocked pair pass — pairs computed once at the
    loosest cutoff (the bounded within-label kernel of
    embedding_near_dup), every tighter threshold evaluated by filtering
    the SAME pair frame — and report, per threshold, surviving pair
    count, docs the drop rule would remove, and drop ppm vs the corpus.
    The curve a curation pipeline reads BEFORE running semdedup at one
    frozen threshold.  All counts are pair-frame-scale driver collects;
    the corpus is touched exactly once."""
    from ..operators.caching import materialized

    emb = load_table(spark, sf_dir, "embeddings")
    lo = min(_SEMDEDUP_CURVE_TS)
    pairs = materialized(
        block_near_dup_pairs(emb, "label", threshold=lo).select(
            "vec_id_2", "cosine"
        )
    )
    n_corpus = (
        emb.where(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        ).count()
    )
    rows = []
    for t in _SEMDEDUP_CURVE_TS:
        at = pairs.where(F.col("cosine") >= t)
        n_pairs = at.count()
        n_dropped = at.select("vec_id_2").distinct().count()
        rows.append(
            (
                # round, not int(): 0.7 * 1e6 is 699999.99... in doubles
                round(t * 1_000_000),
                n_pairs,
                n_dropped,
                1_000_000 * n_dropped // n_corpus,
            )
        )
    return spark.createDataFrame(
        rows,
        "threshold_ppm long, n_pairs long, n_dropped long, drop_ppm long",
    )


def _semdedup_threshold_curve_sql() -> str:
    lo = min(_SEMDEDUP_CURVE_TS)
    ts = ", ".join(str(round(t * 1_000_000)) for t in _SEMDEDUP_CURVE_TS)
    return f"""
WITH p AS (
  SELECT b.vec_id AS vec_id_2,
         {_dot_sql("a.embedding", "b.embedding")}
           / (sqrt({_dot_sql("a.embedding", "a.embedding")})
              * sqrt({_dot_sql("b.embedding", "b.embedding")})) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_dot_sql("a.embedding", "b.embedding")}
          / (sqrt({_dot_sql("a.embedding", "a.embedding")})
             * sqrt({_dot_sql("b.embedding", "b.embedding")})) >= {lo}
),
ts AS (SELECT unnest([{ts}]) AS t),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
)
SELECT CAST(ts.t AS BIGINT) AS threshold_ppm,
       CAST(count(p.vec_id_2) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.vec_id_2) AS BIGINT) AS n_dropped,
       CAST(1000000 * count(DISTINCT p.vec_id_2) // tot.n AS BIGINT)
         AS drop_ppm
FROM ts CROSS JOIN tot
LEFT JOIN p ON p.cosine >= ts.t / 1000000.0
GROUP BY ts.t, tot.n
"""


def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space sibling
    of the 8-gram `decontaminate` (paraphrased eval questions share no
    8-gram but sit next to the benchmark in embedding space; modern
    pipelines run BOTH screens): every corpus vector is scored against
    the full benchmark slice (vec_id % 20 == 0, the eval stand-in) by
    exact cosine — the bench side is metadata-scale and BROADCASTS, so
    the corpus streams through one narrow pass, never shuffling for the
    comparison — and docs with any bench neighbor above the threshold
    are reported with their hit count, max cosine, and the top
    contaminating bench id (ties to the lowest id) — straight out of the
    Arrow kernel, ZERO shuffles (operators.similarity.
    bench_contamination: each doc lives in one batch, so no window or
    aggregate follows the scan).  Exact and fold-order-identical to the
    oracle, so the report hash-checks; at 100 TB the bench side stays a
    broadcast matrix (eval suites are thousands of rows) and the corpus
    pass is the same single scan."""
    from ..operators.similarity import bench_contamination

    emb = load_table(spark, sf_dir, "embeddings")
    return bench_contamination(
        corpus=emb.filter(F.col("vec_id") % 20 != 0),
        bench=emb.filter(F.col("vec_id") % 20 == 0),
        threshold=0.35,
    )


_SEMANTIC_DECONTAMINATE_SQL = f"""
WITH s AS (
  SELECT c.vec_id, b.vec_id AS bench_id,
         {_dot_sql("c.embedding", "b.embedding")}
           / (sqrt({_dot_sql("c.embedding", "c.embedding")})
              * sqrt({_dot_sql("b.embedding", "b.embedding")})) AS cosine
  FROM embeddings c JOIN embeddings b
    ON c.vec_id % 20 <> 0 AND b.vec_id % 20 = 0),
f AS (SELECT * FROM s WHERE cosine >= 0.35)
SELECT vec_id, n_bench_hits, cosine AS max_cosine, bench_id AS top_bench_id
FROM (
  SELECT vec_id, bench_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, bench_id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_bench_hits
  FROM f) r
WHERE rn = 1
"""


_EMBEDDING_PAIRS_SQL = f"""
WITH p AS (
  SELECT a.label, a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         {_dot_sql("a.embedding", "b.embedding")}
           / (sqrt({_dot_sql("a.embedding", "a.embedding")})
              * sqrt({_dot_sql("b.embedding", "b.embedding")})) AS cosine
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT label, vec_id_1, vec_id_2, cosine, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY label
                               ORDER BY cosine DESC, vec_id_1, vec_id_2) AS rn
  FROM p) WHERE rn <= 3
"""

# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload + metadata, content digest.


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256_hex"),
    )


# (DuckDB 1.0's sha256 takes VARCHAR only; hashing the VARCHAR hashes its
# utf-8 bytes, which is exactly Spark's sha2(encode(text,'utf-8'), 256).)
_MULTIMODAL_META_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       sha256(text) AS sha256_hex
FROM documents
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal feature-extraction stage with a REAL decoder:
    each doc's text bytes become a genuinely valid media file (even ids a
    16x16 binary PGM, odd ids an 8 kHz 8-bit WAV; operators.multimodal.
    attach_media_payload), then decode_media parses headers and computes
    pixel/sample statistics in an Arrow-batched mapInPandas.  The oracle
    rebuilds the 256 tiled data units from the ASCII text in SQL and
    recomputes every statistic."""
    docs = attach_media_payload(load_table(spark, sf_dir, "documents"))
    return extract_media_features(docs)


_MULTIMODAL_FEATURES_SQL = """
WITH u AS (
  SELECT doc_id, length(text) AS tlen,
         CASE WHEN length(text) > 0 THEN
           list_transform(range(256), i ->
             CAST(ascii(substring(text,
                                  CAST(i % length(text) AS INTEGER) + 1, 1))
                  AS BIGINT))
         ELSE CAST([] AS BIGINT[]) END AS units
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'pgm' ELSE 'wav' END AS media_kind,
       CAST(CASE WHEN doc_id % 2 = 0 THEN
              CASE WHEN tlen > 0 THEN 16 ELSE 0 END END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN
              CASE WHEN tlen > 0 THEN 16 ELSE 0 END END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN tlen > 0 THEN 256 ELSE 0 END AS BIGINT) AS n_units,
       CAST(list_aggregate(units, 'min') AS INTEGER) AS unit_min,
       CAST(list_aggregate(units, 'max') AS INTEGER) AS unit_max,
       CAST(list_aggregate(units, 'sum') AS BIGINT) AS unit_sum,
       CAST(list_aggregate(units, 'sum') AS DOUBLE) / 256 AS unit_mean,
       TRUE AS feature_ok
FROM u
"""


def multimodal_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patchify (ViT tiling): every 16x16 PGM splits into a 4x4 grid of
    4x4 patches inside the Arrow kernel — one row per patch with integer
    sum/min/max (operators.multimodal.image_tile_stats).  The oracle
    rebuilds each patch from the ASCII-tiled pixel units and recomputes
    the stats, certifying the real decoder + tiler bit-for-bit."""
    from ..operators.multimodal import attach_media_payload, image_tile_stats

    docs = attach_media_payload(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 2 == 0
    )
    return image_tile_stats(docs, tile=4)


_MULTIMODAL_TILES_SQL = """
WITH u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents
  WHERE doc_id % 2 = 0 AND length(text) > 0
),
t AS (
  SELECT doc_id, ti // 4 AS ty, ti % 4 AS tx,
         list_transform(range(16), j ->
           units[CAST((4 * (ti // 4) + j // 4) * 16
                      + 4 * (ti % 4) + (j % 4) AS INTEGER) + 1]) AS patch
  FROM u CROSS JOIN unnest(range(16)) AS g(ti)
)
SELECT doc_id,
       CAST(ty AS INTEGER) AS tile_y,
       CAST(tx AS INTEGER) AS tile_x,
       CAST(list_aggregate(patch, 'sum') AS BIGINT) AS tile_sum,
       CAST(list_aggregate(patch, 'min') AS INTEGER) AS tile_min,
       CAST(list_aggregate(patch, 'max') AS INTEGER) AS tile_max
FROM t
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image resize end-to-end: 16x16 PGMs (even doc ids) resampled to
    8x8 by pgm_resize (nearest-neighbor, integer arithmetic), then decoded
    again — the oracle recomputes the resample in SQL by indexing the tiled
    unit list at (2y*16 + 2x)."""
    docs = attach_media_payload(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 2 == 0
    )
    small = resize_payloads(docs, 8, 8)
    return extract_media_features(small).select(
        "doc_id", "media_kind", "width", "height", "n_units", "unit_sum"
    )


_MULTIMODAL_RESIZE_SQL = """
WITH u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents WHERE doc_id % 2 = 0 AND length(text) > 0
)
SELECT doc_id, 'pgm' AS media_kind,
       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       CAST(64 AS BIGINT) AS n_units,
       CAST(list_aggregate(
              list_transform(range(64), p ->
                units[CAST((p // 8) * 2 * 16 + (p % 8) * 2 AS INTEGER) + 1]),
              'sum') AS BIGINT) AS unit_sum
FROM u
"""


def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame sampling end-to-end over REAL WAV payloads (odd doc
    ids): RIFF-parse in the Arrow kernel, window the 256 tiled samples
    into 8 frames of 32, per-frame integer stats.  The oracle rebuilds
    the identical sample units from the ASCII text and windows them with
    list_slice."""
    from ..operators.multimodal import audio_frame_stats

    docs = attach_media_payload(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 2 == 1
    )
    return audio_frame_stats(docs, frame_len=32)


_MULTIMODAL_FRAMESAMPLE_SQL = """
WITH u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents WHERE doc_id % 2 = 1 AND length(text) > 0
),
f AS (
  SELECT doc_id, unnest(range(8)) AS fi, units FROM u
),
s AS (
  SELECT doc_id, fi,
         list_slice(units, CAST(fi * 32 + 1 AS INTEGER),
                    CAST(fi * 32 + 32 AS INTEGER)) AS fr
  FROM f
)
SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       CAST(32 AS BIGINT) AS n_samples,
       CAST(list_aggregate(fr, 'min') AS BIGINT) AS frame_min,
       CAST(list_aggregate(fr, 'max') AS BIGINT) AS frame_max,
       CAST(list_aggregate(fr, 'sum') AS BIGINT) AS frame_sum
FROM s
"""


def audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs — the fingerprint family's third
    modality (text simhash_pairs / image image_dedup / THIS): every WAV
    payload (odd doc ids, the media contract) decodes through the real
    RIFF parser into a 53-bit mean-threshold fingerprint
    (operators.multimodal.audio_fingerprints), and the SAME banded
    Hamming machinery as simhash_pairs finds every pair within distance
    3 — one band equi-join, exact XOR popcount verify, zero all-pairs.
    The oracle re-derives the fingerprints from the payload CONTRACT
    (samples are the doc's ascii units tiled to 256 — the
    multimodal_framesample discipline) and proves the banding admits no
    misses quadratically."""
    from ..operators.dedup import simhash_near_pairs
    from ..operators.multimodal import audio_fingerprints

    docs = attach_media_payload(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 2 == 1
    )
    return simhash_near_pairs(
        audio_fingerprints(docs), hash_col="audio_hash", max_dist=3
    )


_AUDIO_DEDUP_SQL = """
WITH u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents WHERE doc_id % 2 = 1 AND length(text) > 0
),
t AS (SELECT doc_id, units, list_sum(units) AS total FROM u),
fp AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 53), k ->
      CASE WHEN 256 * units[CAST(k * 256 // 53 AS INTEGER) + 1] > total
           THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END))
      AS BIGINT) AS audio_hash
  FROM t)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       CAST(bit_count(xor(a.audio_hash, b.audio_hash)) AS INTEGER) AS dist
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.audio_hash, b.audio_hash)) <= 3
"""


def multimodal_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODALITY duplicate census (VERDICT r09 ask #6) — the
    governance view a multimodal corpus pipeline reads: the three
    fingerprint pipelines (text simhash_pairs / image image_dedup /
    audio audio_dedup) each carried to components with the min-id
    canonical rule, then ONE per-(modality, source) drop report in
    source_dup_report's shape: items in the modality's universe, items
    a keep-list would drop (non-canonical component members), drop ppm.
    A source hot in one modality but not the others is a scraping
    artifact; hot in all three is a mirror — the distinction only the
    union census shows.  All three pair stages are banded (never
    all-pairs); the census itself is three source-grain rollups."""
    from ..operators.caching import materialized
    from ..operators.dedup import connected_components, simhash_near_pairs
    from ..operators.multimodal import audio_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")

    def dropped_of(comps):
        return comps.where(
            F.col("component_id") != F.col("doc_id")
        ).select("doc_id")

    def census(members, dropped, modality):
        totals = (
            members.join(src, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_items"))
        )
        drops = (
            dropped.join(src, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("__nd"))
        )
        return totals.join(F.broadcast(drops), "source", "left").select(
            F.lit(modality).alias("modality"),
            "source",
            F.col("n_items").cast("long").alias("n_items"),
            F.coalesce(
                F.col("__nd").cast("long"), F.lit(0).cast("long")
            ).alias("n_dropped"),
            F.expr(
                "1000000 * coalesce(__nd, CAST(0 AS BIGINT)) DIV n_items"
            ).cast("long").alias("drop_ppm"),
        )

    # The three modality pipelines are INDEPENDENT (disjoint fingerprint
    # kernels, separate component loops) and each spends most of its wall
    # in a driver-paced CC round loop that leaves executors idle between
    # rounds — so overlap them from a thread pool (guide §2.6 "overlap
    # independent jobs"): one modality's round jobs back-fill the others'
    # driver gaps.  Composition and values are unchanged; only when the
    # work runs moves.
    from concurrent.futures import ThreadPoolExecutor

    def text_leg():
        tfp = materialized(simhash_fingerprints(docs))
        comps = connected_components(
            simhash_near_pairs(tfp, max_dist=1), "doc_id_1", "doc_id_2"
        )
        return tfp, comps

    def image_leg():
        ih = materialized(
            image_avg_hashes(
                attach_media_payload(docs.where(F.col("doc_id") % 2 == 0))
            )
        )
        comps = connected_components(
            hamming_near_pairs(ih, max_dist=3), "id_a", "id_b", id_col="doc_id"
        )
        return ih, comps

    def audio_leg():
        ah = materialized(
            audio_fingerprints(
                attach_media_payload(docs.where(F.col("doc_id") % 2 == 1))
            )
        )
        comps = connected_components(
            simhash_near_pairs(ah, hash_col="audio_hash", max_dist=3),
            "doc_id_1",
            "doc_id_2",
        )
        return ah, comps

    with ThreadPoolExecutor(max_workers=3) as pool:
        ft, fi, fa = (
            pool.submit(text_leg),
            pool.submit(image_leg),
            pool.submit(audio_leg),
        )
        tfp, tcomps = ft.result()
        ih, icomps = fi.result()
        ah, acomps = fa.result()
    return (
        census(tfp.select("doc_id"), dropped_of(tcomps), "text")
        .unionByName(census(ih.select("doc_id"), dropped_of(icomps), "image"))
        .unionByName(census(ah.select("doc_id"), dropped_of(acomps), "audio"))
    )


def _mm_cc_census_sql(prefix: str, modality: str) -> tuple[str, str]:
    """Reachability components + per-source census CTEs for one modality
    (the image_dedup oracle's recursive pattern, prefixed to coexist
    three times in one WITH RECURSIVE).  Expects ``{prefix}_p`` (pairs
    as columns a, b) and ``{prefix}_univ`` (doc_id universe) in scope.
    Returns (cte_block, final_select)."""
    p = prefix
    ctes = f"""{p}_e AS (SELECT a, b FROM {p}_p UNION SELECT b, a FROM {p}_p),
{p}_r AS (
  SELECT a AS node, a AS peer FROM {p}_e
  UNION
  SELECT r.node, e.b FROM {p}_r r JOIN {p}_e e ON r.peer = e.a
),
{p}_c AS (SELECT node AS doc_id, min(peer) AS cid FROM {p}_r GROUP BY node),
{p}_drop AS (SELECT doc_id FROM {p}_c WHERE cid <> doc_id),
{p}_tot AS (
  SELECT d.source, count(*) AS n_items
  FROM {p}_univ u JOIN documents d USING (doc_id) GROUP BY d.source),
{p}_dr AS (
  SELECT d.source, count(*) AS nd
  FROM {p}_drop JOIN documents d USING (doc_id) GROUP BY d.source)"""
    sel = f"""SELECT '{modality}' AS modality, t.source,
       CAST(t.n_items AS BIGINT) AS n_items,
       CAST(coalesce(dr.nd, 0) AS BIGINT) AS n_dropped,
       CAST(1000000 * coalesce(dr.nd, 0) // t.n_items AS BIGINT) AS drop_ppm
FROM {p}_tot t LEFT JOIN {p}_dr dr USING (source)"""
    return ctes, sel


def _multimodal_dup_census_sql() -> str:
    t_fp = f"""t_th AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t -> {poly_hash_sql("t", SIMHASH_MOD)}) AS hh
  FROM documents),
t_univ AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 53), k ->
      CASE WHEN list_sum(list_transform(hh, h ->
             CASE WHEN (h // CAST(power(2, k) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END)) AS BIGINT) AS simhash
  FROM t_th),
t_p AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM t_univ a JOIN t_univ b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1)"""
    i_h = """i_u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents WHERE doc_id % 2 = 0 AND length(text) > 0
),
i_b AS (
  SELECT doc_id,
         list_transform(range(64), k ->
           units[CAST((k // 8) * 32 + (k % 8) * 2 AS INTEGER) + 1]
         + units[CAST((k // 8) * 32 + (k % 8) * 2 AS INTEGER) + 2]
         + units[CAST((k // 8) * 32 + (k % 8) * 2 + 16 AS INTEGER) + 1]
         + units[CAST((k // 8) * 32 + (k % 8) * 2 + 16 AS INTEGER) + 2]
         ) AS blocks,
         list_aggregate(units, 'sum') AS total
  FROM i_u
),
i_univ AS (
  SELECT doc_id,
         CAST(list_aggregate(list_transform(range(32), k ->
           CASE WHEN 64 * blocks[CAST(k AS INTEGER) + 33] > total
                THEN CAST(1 AS BIGINT) << CAST(k AS INTEGER) ELSE 0 END),
           'sum') AS BIGINT) AS hash_hi,
         CAST(list_aggregate(list_transform(range(32), k ->
           CASE WHEN 64 * blocks[CAST(k AS INTEGER) + 1] > total
                THEN CAST(1 AS BIGINT) << CAST(k AS INTEGER) ELSE 0 END),
           'sum') AS BIGINT) AS hash_lo
  FROM i_b
),
i_p AS (
  SELECT a.doc_id AS a, c.doc_id AS b
  FROM i_univ a JOIN i_univ c ON a.doc_id < c.doc_id
  WHERE bit_count(xor(a.hash_hi, c.hash_hi))
      + bit_count(xor(a.hash_lo, c.hash_lo)) <= 3)"""
    a_fp = """a_u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents WHERE doc_id % 2 = 1 AND length(text) > 0
),
a_t AS (SELECT doc_id, units, list_sum(units) AS total FROM a_u),
a_univ AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 53), k ->
      CASE WHEN 256 * units[CAST(k * 256 // 53 AS INTEGER) + 1] > total
           THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END))
      AS BIGINT) AS audio_hash
  FROM a_t),
a_p AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM a_univ a JOIN a_univ b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.audio_hash, b.audio_hash)) <= 3)"""
    t_ctes, t_sel = _mm_cc_census_sql("t", "text")
    i_ctes, i_sel = _mm_cc_census_sql("i", "image")
    a_ctes, a_sel = _mm_cc_census_sql("a", "audio")
    return (
        "WITH RECURSIVE "
        + ",\n".join([t_fp, t_ctes, i_h, i_ctes, a_fp, a_ctes])
        + "\n"
        + "\nUNION ALL\n".join([t_sel, i_sel, a_sel])
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality signals.


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_signals(load_table(spark, sf_dir, "documents"))


_REPETITION_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
wc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_w
           FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id,
              unnest(list_transform(range(len(ws) - 1),
                  i -> ws[CAST(i + 1 AS INTEGER)] || ' ' || ws[CAST(i + 2 AS INTEGER)])) AS bg
       FROM w),
bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
bstats AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bg
           FROM bc GROUP BY doc_id)
SELECT s.doc_id, s.n_tokens,
       floor(CAST(s.top_w AS DOUBLE) / s.n_tokens * 1000000.0 + 0.5)
           / 1000000.0 AS top_word_frac,
       CASE WHEN b.n_bg > 0
            THEN floor(CAST(b.top_bg AS DOUBLE) / b.n_bg * 1000000.0 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN b.n_bg > 0
            THEN floor(CAST(b.dup_bg AS DOUBLE) / b.n_bg * 1000000.0 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS dup_bigram_frac
FROM wstats s LEFT JOIN bstats b USING (doc_id)
"""

# ---------------------------------------------------------------------------
# TF-IDF characteristic terms (linear smoothed idf — see operator docstring).


def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


_TFIDF_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
s AS (SELECT t.doc_id, t.tok,
             (CAST(t.tf AS DOUBLE) * (SELECT count(*) FROM documents)) / (d.df + 1) AS score
      FROM tf t JOIN dfq d USING (tok)),
r AS (SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS term_rank
      FROM s)
SELECT doc_id, tok AS term, round(score, 6) AS tfidf,
       CAST(term_rank AS INTEGER) AS term_rank
FROM r WHERE term_rank <= 3
"""


# ---------------------------------------------------------------------------
# Per-label centroid / cluster-tightness stats (k-means-style primitive).


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_stats(emb)


def embedding_scatter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_scatter(emb, n_dims=16)


def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the first 8 dims by exact-integer power
    iteration on the scatter matrix (operators.clustering.
    pca_power_iteration) — iterative linear algebra that hash-checks."""
    from ..operators.clustering import pca_power_iteration

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_iteration(emb, n_dims=8)


def _embedding_pca_sql() -> str:
    from ..operators.clustering import pca_power_iteration_sql

    return pca_power_iteration_sql(n_dims=8)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 4 subspaces x 16 dims, 4-centroid codebooks
    from the deterministic Lloyd loop, packed codes + reconstruction-error
    census — even the trained quantizer is hash-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_code_census(emb)


_PQ_CODES_SQL = pq_code_census_sql()


def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ANN: top-10 neighbors of vector 0 scored
    from codes via m*k lookup tables — zero per-row vector math."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_ann_topk(emb, query_id=0, topk=10)


_PQ_ANN_SQL = pq_ann_topk_sql(query_id=0, topk=10)


def ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed two-stage ANN read path (FAISS-IVFPQ shape): coarse
    cells prune the scan to n_probe/n_cells of the corpus BEFORE scoring,
    PQ ADC ranks the survivors from integer codes — the architecture a
    100 TB vector search runs, end-to-end hash-checkable because every
    distance is the shared per-subspace sequential fold."""
    from ..operators.clustering import ivf_pq_ann

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_ann(emb, query_id=0, topk=10, n_cells=8, n_probe=2)


def _ivf_pq_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_sql

    return ivf_pq_ann_sql(query_id=0, topk=10, n_cells=8, n_probe=2)


def pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ ADC path against the exact L2 top-10 — the
    quantization-quality gauge next to ann_recall's LSH measurement.
    Deterministic end to end, so even the recall of an approximate index
    is hash-checkable."""
    from pyspark.sql import Window as _W

    from ..operators.clustering import _sq_dist

    emb = load_table(spark, sf_dir, "embeddings")
    approx = pq_ann_topk(emb, query_id=0, topk=10).select("vec_id")
    # metadata-scale: exactly one query row (id equality)
    qvec = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "q"
            )
        )
        .collect()[0]["q"]
    )
    # single-parse SQL build (sqlexpr module docstring): F.lit of the
    # 64-dim query vector alone cost ~0.45 s of py4j round trips per rep
    exact = (
        emb.where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .select(
            "vec_id",
            F.expr(
                sqlexpr.sq_dist(
                    sqlexpr.to_double_arr("`embedding`"), sqlexpr.arr_d(qvec)
                )
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    hits = approx.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        "n_hits",
        F.expr("1000000 * n_hits DIV 10").alias("recall_ppm"),
    )


_PQ_RECALL_SQL = f"""
WITH pq AS (
  SELECT vec_id FROM ({_PQ_ANN_SQL}) pq_inner
),
qv AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
  FROM embeddings WHERE vec_id = 0
),
exact AS (
  SELECT e.vec_id
  FROM (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0) e, qv
  ORDER BY list_sum(list_transform(generate_series(1, len(e.v)),
                    i -> (e.v[i] - qv.q[i]) * (e.v[i] - qv.q[i]))),
           e.vec_id
  LIMIT 10
)
SELECT 10 AS k, CAST(count(*) AS BIGINT) AS n_hits,
       1000000 * CAST(count(*) AS BIGINT) // 10 AS recall_ppm
FROM pq JOIN exact USING (vec_id)
"""


def ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the COMPOSED IVF+PQ read path against the exact L2
    top-10 — the gauge for the doubly-approximate production plan (cell
    pruning loses candidates PQ never sees; pq_recall isolates the
    quantization half, this measures the product).  Deterministic end to
    end, so the recall of the composed index hash-checks."""
    from ..operators.clustering import _sq_dist, ivf_pq_ann

    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivf_pq_ann(
        emb, query_id=0, topk=10, n_cells=8, n_probe=2
    ).select("vec_id")
    # metadata-scale: exactly one query row (id equality)
    qvec = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "q"
            )
        )
        .collect()[0]["q"]
    )
    # single-parse SQL build (sqlexpr module docstring): F.lit of the
    # 64-dim query vector alone cost ~0.45 s of py4j round trips per rep
    exact = (
        emb.where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .select(
            "vec_id",
            F.expr(
                sqlexpr.sq_dist(
                    sqlexpr.to_double_arr("`embedding`"), sqlexpr.arr_d(qvec)
                )
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    hits = approx.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        "n_hits",
        F.expr("1000000 * n_hits DIV 10").alias("recall_ppm"),
    )


def _ivf_pq_recall_sql() -> str:
    return f"""
WITH ivfpq AS (
  SELECT vec_id FROM ({_ivf_pq_sql()}) ivfpq_inner
),
qv AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
  FROM embeddings WHERE vec_id = 0
),
exact AS (
  SELECT e.vec_id
  FROM (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0) e, qv
  ORDER BY list_sum(list_transform(generate_series(1, len(e.v)),
                    i -> (e.v[i] - qv.q[i]) * (e.v[i] - qv.q[i]))),
           e.vec_id
  LIMIT 10
)
SELECT 10 AS k, CAST(count(*) AS BIGINT) AS n_hits,
       1000000 * CAST(count(*) AS BIGINT) // 10 AS recall_ppm
FROM ivfpq JOIN exact USING (vec_id)
"""


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators.bpe): 20 merges learned from the
    corpus word census.  Genuinely iterative (each round's pair counts
    depend on the previous merge), so no SQL can DERIVE the table — but
    the training is deterministic, so the oracle PINS the expected merge
    table as a VALUES literal per fixture (keyed on sum(length(text)),
    which distinguishes the driver SFs), generated once from this
    implementation after pytest verified it against an independent
    pure-Python BPE reference.  An unrecognized fixture yields zero oracle
    rows — a loud stale-pin failure, never a silent pass."""
    from ..operators.bpe import bpe_train_df

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_df(docs, n_merges=20)


# (sum(length(text)), rank, left, right, pair_count) per driver fixture;
# regenerate with bpe_train_df if the testdata or the trainer changes.
_BPE_PINNED = [
    # sf0.001 (corpus size 153156)
    (153156, 0, "e", "r", 4650), (153156, 1, "o", "r", 2880),
    (153156, 2, "i", "n", 2858), (153156, 3, "o", "w", 2763),
    (153156, 4, "s", "t", 2721), (153156, 5, "l", "u", 1928),
    (153156, 6, "a", "r", 1873), (153156, 7, "p", "ar", 1873),
    (153156, 8, "m", "er", 1824), (153156, 9, "a", "t", 1806),
    (153156, 10, "a", "n", 984), (153156, 11, "c", "an", 984),
    (153156, 12, "s", "can", 984), (153156, 13, "c", "o", 978),
    (153156, 14, "co", "lu", 978), (153156, 15, "colu", "m", 978),
    (153156, 16, "colum", "n", 978), (153156, 17, "d", "ow", 976),
    (153156, 18, "in", "dow", 976), (153156, 19, "w", "indow", 976),
    # sf0.01 (corpus size 149174)
    (149174, 0, "e", "r", 4568), (149174, 1, "i", "n", 2760),
    (149174, 2, "o", "w", 2747), (149174, 3, "o", "r", 2696),
    (149174, 4, "s", "t", 2676), (149174, 5, "m", "er", 1852),
    (149174, 6, "a", "t", 1845), (149174, 7, "l", "u", 1831),
    (149174, 8, "a", "r", 1758), (149174, 9, "p", "ar", 1758),
    (149174, 10, "j", "o", 964), (149174, 11, "jo", "in", 964),
    (149174, 12, "a", "s", 947), (149174, 13, "as", "h", 947),
    (149174, 14, "h", "ash", 947), (149174, 15, "r", "ow", 943),
    (149174, 16, "at", "c", 937), (149174, 17, "atc", "h", 937),
    (149174, 18, "b", "atch", 937), (149174, 19, "a", "n", 936),
    # sf0.1 (corpus size 1485576)
    (1485576, 0, "e", "r", 45089), (1485576, 1, "i", "n", 27190),
    (1485576, 2, "o", "r", 27095), (1485576, 3, "s", "t", 27060),
    (1485576, 4, "o", "w", 27044), (1485576, 5, "t", "a", 18248),
    (1485576, 6, "l", "u", 18239), (1485576, 7, "m", "er", 18174),
    (1485576, 8, "a", "r", 18111), (1485576, 9, "p", "ar", 18111),
    (1485576, 10, "u", "p", 9295), (1485576, 11, "par", "k", 9182),
    (1485576, 12, "s", "park", 9182), (1485576, 13, "d", "ow", 9159),
    (1485576, 14, "in", "dow", 9159), (1485576, 15, "w", "indow", 9159),
    (1485576, 16, "g", "e", 9157), (1485576, 17, "mer", "ge", 9157),
    (1485576, 18, "b", "l", 9144), (1485576, 19, "bl", "e", 9144),
]

_BPE_MERGES_SQL = (
    "WITH corpus AS (SELECT sum(length(text)) AS sz FROM documents),\n"
    "pinned(sz, rank, lft, rgt, pc) AS (VALUES\n"
    + ",\n".join(
        f"  ({sz}, {rk}, '{l}', '{r}', {pc})"
        for sz, rk, l, r, pc in _BPE_PINNED
    )
    + ")\n"
    'SELECT CAST(p.rank AS INTEGER) AS "rank", p.lft AS "left",\n'
    '       p.rgt AS "right", CAST(p.pc AS BIGINT) AS pair_count\n'
    "FROM pinned p JOIN corpus c ON p.sz = c.sz"
)


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE APPLY path (VERDICT r05 ask #4): train 20 merges, then
    ENCODE every document to token ids (operators.bpe.bpe_encode_docs —
    merge table + base vocab ride into the Arrow kernel as the tokenizer
    file; zero shuffles in the encode stage), reported as a word-length-
    bucket compression census: docs, words, tokens, and the DECIMAL-summed
    order-sensitive id fingerprint per bucket, so the oracle hash-checks
    every token id of every doc in ~5 rows.  Training is iterative (no SQL
    derivation — bpe_merges' argument), so the oracle PINS the expected
    report per fixture keyed on sum(length(text)), generated from this
    implementation after pytest pinned the encoder against an independent
    reference; an unrecognized fixture yields zero oracle rows (loud
    stale-pin failure)."""
    from ..operators.bpe import (
        base_char_vocab,
        bpe_encode_docs,
        bpe_train,
        word_census,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(word_census(docs), n_merges=20)
    vocab = base_char_vocab(docs)
    return _bpe_len_bucket_census(bpe_encode_docs(docs, merges, vocab))


def _bpe_len_bucket_census(encoded: DataFrame) -> DataFrame:
    """The word-length-bucket compression census shared by bpe_encode and
    bpe_encode_from_artifacts — both must produce the identical report,
    which is exactly the saved-tokenizer fidelity gate."""
    from ..operators.bpe import ENCODE_FP_MOD

    return (
        encoded.groupBy(
            F.expr("n_words DIV 20").cast("long").alias("len_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            (
                F.sum(F.col("ids_fp").cast("decimal(38,0)"))
                % F.lit(ENCODE_FP_MOD).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("fp_sum"),
        )
    )


# (sum(length(text)), len_bucket, n_docs, n_words, n_tokens, fp_sum) per
# driver fixture; regenerate with tools/regen_bpe_encode_pin.py if the
# testdata, trainer, or encoder changes.
_BPE_ENCODE_PINNED: list[tuple[int, int, int, int, int, int]] = [
    # sf0.001 (corpus size 153156)
    (153156, 0, 54, 784, 2540, 2152775753575784967),
    (153156, 1, 99, 2959, 9587, 1344247340803994483),
    (153156, 2, 116, 5669, 18518, 2246046884951046531),
    (153156, 3, 106, 7373, 23903, 20544648013831865),
    (153156, 4, 125, 11154, 36201, 825308710932240519),
    # sf0.01 (corpus size 149174)
    (149174, 0, 43, 629, 2039, 2010693616845129722),
    (149174, 1, 126, 3706, 12107, 439925223739479265),
    (149174, 2, 106, 5257, 17106, 1418070453485582735),
    (149174, 3, 119, 8223, 26801, 1957490607317571056),
    (149174, 4, 106, 9350, 30506, 1158330912248972800),
    # sf0.1 (corpus size 1485576)
    (1485576, 0, 542, 7932, 25954, 1245620436033841359),
    (1485576, 1, 1128, 33304, 109167, 546556135232118618),
    (1485576, 2, 1145, 56407, 183790, 2265016069511736459),
    (1485576, 3, 1111, 77278, 251961, 829100254431979957),
    (1485576, 4, 1070, 95383, 311637, 1465464505119862343),
    (1485576, 5, 4, 400, 1264, 333184002159968772),
]

_BPE_ENCODE_SQL = (
    "WITH corpus AS (SELECT sum(length(text)) AS sz FROM documents),\n"
    "pinned(sz, len_bucket, n_docs, n_words, n_tokens, fp_sum) AS (VALUES\n"
    + ",\n".join(
        f"  ({sz}, {b}, {d}, {w}, {t}, {fp})"
        for sz, b, d, w, t, fp in _BPE_ENCODE_PINNED
    )
    + ")\n"
    "SELECT CAST(p.len_bucket AS BIGINT) AS len_bucket,\n"
    "       CAST(p.n_docs AS BIGINT) AS n_docs,\n"
    "       CAST(p.n_words AS BIGINT) AS n_words,\n"
    "       CAST(p.n_tokens AS BIGINT) AS n_tokens,\n"
    "       CAST(p.fp_sum AS BIGINT) AS fp_sum\n"
    "FROM pinned p JOIN corpus c ON p.sz = c.sz"
)


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FAIRNESS census: per-language tokens-per-word (fertility)
    of the trained BPE tokenizer — the eval a multilingual pipeline runs
    before trusting one tokenizer across languages (high fertility =
    that language pays more context budget per word).  Same train+encode
    as bpe_encode, grouped by the fixture's lang column; fertility in
    exact integer ppm, id fingerprints DECIMAL-summed per language.
    Iterative training -> pinned oracle per fixture (bpe_encode's
    discipline), regenerated by tools/regen_bpe_encode_pin.py."""
    from ..operators.bpe import (
        ENCODE_FP_MOD,
        base_char_vocab,
        bpe_encode_docs,
        bpe_train,
        word_census,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(word_census(docs), n_merges=20)
    vocab = base_char_vocab(docs)
    encoded = bpe_encode_docs(docs, merges, vocab)
    return (
        encoded.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr("1000000 * sum(n_tokens) DIV sum(n_words)").alias(
                "fertility_x1e6"
            ),
            (
                F.sum(F.col("ids_fp").cast("decimal(38,0)"))
                % F.lit(ENCODE_FP_MOD).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("fp_sum"),
        )
    )


# (sum(length(text)), lang, n_docs, n_words, n_tokens, fertility_x1e6,
# fp_sum) per driver fixture; regenerate with tools/regen_bpe_encode_pin.py.
_TOKENIZER_FERTILITY_PINNED: list[tuple[int, str, int, int, int, int, int]] = [
    # sf0.001 (corpus size 153156)
    (153156, 'de', 71, 4070, 13192, 3241277, 1187822808787871930),
    (153156, 'en', 193, 10343, 33484, 3237358, 233304211409590231),
    (153156, 'es', 80, 4516, 14595, 3231842, 878933262573410854),
    (153156, 'fr', 82, 4926, 16132, 3274868, 849224655468846990),
    (153156, 'zh', 74, 4084, 13346, 3267874, 1133795390823484409),
    # sf0.01 (corpus size 149174)
    (149174, 'de', 70, 3549, 11506, 3242040, 873997476165157846),
    (149174, 'en', 218, 11757, 38241, 3252615, 1714344702540883501),
    (149174, 'es', 73, 3958, 12924, 3265285, 829430766308459293),
    (149174, 'fr', 64, 3758, 12287, 3269558, 510287790856648455),
    (149174, 'zh', 75, 4143, 13601, 3282886, 750607068551892532),
    # sf0.1 (corpus size 1485576)
    (1485576, 'de', 702, 38406, 125781, 3275035, 464341626213199604),
    (1485576, 'en', 2059, 112006, 365222, 3260736, 1275500292416376307),
    (1485576, 'es', 744, 41044, 133468, 3251827, 1855541082742235196),
    (1485576, 'fr', 742, 40521, 132523, 3270477, 1679534633557763270),
    (1485576, 'zh', 753, 38727, 126779, 3273659, 1410023767559933131),
]

_TOKENIZER_FERTILITY_SQL = (
    "WITH corpus AS (SELECT sum(length(text)) AS sz FROM documents),\n"
    "pinned(sz, lang, n_docs, n_words, n_tokens, fert, fp_sum) AS (VALUES\n"
    + ",\n".join(
        f"  ({sz}, '{lg}', {d}, {w}, {t}, {fe}, {fp})"
        for sz, lg, d, w, t, fe, fp in _TOKENIZER_FERTILITY_PINNED
    )
    + ")\n"
    "SELECT p.lang, CAST(p.n_docs AS BIGINT) AS n_docs,\n"
    "       CAST(p.n_words AS BIGINT) AS n_words,\n"
    "       CAST(p.n_tokens AS BIGINT) AS n_tokens,\n"
    "       CAST(p.fert AS BIGINT) AS fertility_x1e6,\n"
    "       CAST(p.fp_sum AS BIGINT) AS fp_sum\n"
    "FROM pinned p JOIN corpus c ON p.sz = c.sz"
)


def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.9 self-join on word-bigram shingle sets via
    AllPairs prefix filtering (operators.dedup.jaccard_join).  The oracle
    is the quadratic definition, so a driver pass proves the prefix filter
    admits no misses on real data."""
    from ..operators.dedup import jaccard_join

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # spread BEFORE the shingle build so the word-split + bigram transform
    # (the CPU-heavy projection) runs above the exchange on scheduler-width
    # partitions, not on the handful of input splits a small corpus scans
    # as (guide §2.1; the verify-side spread lives in jaccard_join).  At
    # scale the scan has >= cores splits and the condition adds nothing.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, F.col("doc_id"))
    docs = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    grams = docs.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(slice(w, 1, greatest(size(w) - 1, 0)), "
            "(x, i) -> concat(x, ' ', element_at(w, i + 2))))"
        ).alias("grams"),
    )
    return jaccard_join(grams, "doc_id", "grams", threshold_num=9, threshold_den=10)


_JACCARD_PAIRS_SQL = """
WITH s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
         )) AS g
  FROM documents
),
s2 AS (SELECT * FROM s WHERE len(g) > 0),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.g, b.g)) AS i,
         len(a.g) + len(b.g) AS ss
  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(i AS BIGINT) AS n_inter,
       CAST(ss - i AS BIGINT) AS n_union,
       1000000 * CAST(i AS BIGINT) // CAST(ss - i AS BIGINT) AS jac_fp
FROM p
WHERE 10 * i >= 9 * (ss - i)
"""


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: average-hash every (even-id, real PGM)
    payload, find Hamming<=3 near-duplicate pairs via banded LSH, report
    per image its hash halves + near-dup partner count.  The oracle
    recomputes the hash arithmetic from the tiled text units in SQL and
    verifies pairs against the quadratic definition — a driver pass proves
    the banding admits no misses."""
    docs = attach_media_payload(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    )
    hashes = materialized(image_avg_hashes(docs))
    pairs = hamming_near_pairs(hashes, max_dist=3)
    ends = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return hashes.join(ends, on="doc_id", how="left").select(
        "doc_id",
        "hash_hi",
        "hash_lo",
        F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
    )


def image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phash pipeline carried to its DECISION: near-dup pairs ->
    connected components -> canonical keep-list, per image (cluster id =
    min member id, keep = is the canonical member, singletons keep
    themselves).  The composition a production image-dedup pass ships —
    pairs alone are a diagnostic.  Oracle: the quadratic pair definition
    + recursive-CTE reachability (entity_resolution's pattern), so a
    driver pass proves banding + min-label propagation end to end."""
    from ..operators.dedup import connected_components

    docs = attach_media_payload(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    )
    hashes = materialized(image_avg_hashes(docs))
    pairs = hamming_near_pairs(hashes, max_dist=3)
    comps = connected_components(pairs, "id_a", "id_b", id_col="doc_id")
    return hashes.join(comps, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", F.col("doc_id")).alias("cluster_id"),
        F.coalesce(F.col("comp_size").cast("long"), F.lit(1)).alias(
            "cluster_size"
        ),
        (
            F.coalesce("component_id", F.col("doc_id")) == F.col("doc_id")
        ).alias("keep"),
    )


# the hash + quadratic-pair CTEs, shared by the pair report and the
# canonical-keep-list oracles
_PHASH_CTES = """u AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CAST(ascii(substring(text,
                                CAST(i % length(text) AS INTEGER) + 1, 1))
                AS BIGINT)) AS units
  FROM documents WHERE doc_id % 2 = 0 AND length(text) > 0
),
b AS (
  SELECT doc_id,
         list_transform(range(64), k ->
           units[CAST((k // 8) * 32 + (k % 8) * 2 AS INTEGER) + 1]
         + units[CAST((k // 8) * 32 + (k % 8) * 2 AS INTEGER) + 2]
         + units[CAST((k // 8) * 32 + (k % 8) * 2 + 16 AS INTEGER) + 1]
         + units[CAST((k // 8) * 32 + (k % 8) * 2 + 16 AS INTEGER) + 2]
         ) AS blocks,
         list_aggregate(units, 'sum') AS total
  FROM u
),
h AS (
  SELECT doc_id,
         CAST(list_aggregate(list_transform(range(32), k ->
           CASE WHEN 64 * blocks[CAST(k AS INTEGER) + 33] > total
                THEN CAST(1 AS BIGINT) << CAST(k AS INTEGER) ELSE 0 END),
           'sum') AS BIGINT) AS hash_hi,
         CAST(list_aggregate(list_transform(range(32), k ->
           CASE WHEN 64 * blocks[CAST(k AS INTEGER) + 1] > total
                THEN CAST(1 AS BIGINT) << CAST(k AS INTEGER) ELSE 0 END),
           'sum') AS BIGINT) AS hash_lo
  FROM b
),
p AS (
  SELECT a.doc_id AS id_a, c.doc_id AS id_b
  FROM h a JOIN h c ON a.doc_id < c.doc_id
  WHERE bit_count(xor(a.hash_hi, c.hash_hi))
      + bit_count(xor(a.hash_lo, c.hash_lo)) <= 3
)"""

_IMAGE_PHASH_SQL = f"""
WITH {_PHASH_CTES},
ends AS (
  SELECT doc_id, count(*) AS n_near FROM (
    SELECT id_a AS doc_id FROM p UNION ALL SELECT id_b FROM p
  ) e GROUP BY doc_id
)
SELECT h.doc_id, h.hash_hi, h.hash_lo,
       CAST(coalesce(ends.n_near, 0) AS BIGINT) AS n_near
FROM h LEFT JOIN ends ON ends.doc_id = h.doc_id
"""

_IMAGE_DEDUP_SQL = f"""
WITH RECURSIVE {_PHASH_CTES},
edges AS (SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT a AS node, a AS peer FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.peer = e.a
),
comp AS (SELECT node AS doc_id, min(peer) AS cid FROM reach GROUP BY node),
sizes AS (SELECT cid, count(*) AS csize FROM comp GROUP BY cid)
SELECT h.doc_id,
       coalesce(c.cid, h.doc_id) AS cluster_id,
       CAST(coalesce(s.csize, 1) AS BIGINT) AS cluster_size,
       coalesce(c.cid, h.doc_id) = h.doc_id AS keep
FROM h
LEFT JOIN comp c ON c.doc_id = h.doc_id
LEFT JOIN sizes s ON s.cid = c.cid
"""


_EMBEDDING_CENTROIDS_SQL = """
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
),
dims AS (
  SELECT label,
         unnest(list_transform(range(len(e)),
             i -> {'pos': i, 'val': e[CAST(i + 1 AS INTEGER)]})) AS u
  FROM v
),
per_dim AS (
  SELECT label, u.pos AS pos,
         CAST(sum(CAST(floor(u.val * 1e10 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
             / count(*) / 1e10 AS c
  FROM dims GROUP BY label, u.pos
),
cent AS (
  SELECT label, list(c ORDER BY pos) AS carr FROM per_dim GROUP BY label
),
sq AS (
  SELECT v.label,
         list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(len(e)),
                     i -> (e[CAST(i + 1 AS INTEGER)] - carr[CAST(i + 1 AS INTEGER)])
                        * (e[CAST(i + 1 AS INTEGER)] - carr[CAST(i + 1 AS INTEGER)]))),
             (a, b) -> a + b) AS sqd
  FROM v JOIN cent USING (label)
),
stats AS (
  SELECT label, count(*) AS n_vecs,
         CAST(sum(CAST(floor(sqd * 1e10 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS ss
  FROM sq GROUP BY label
)
SELECT s.label, s.n_vecs,
       sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(carr, x -> x * x)), (a, b) -> a + b)) AS centroid_norm,
       s.ss / s.n_vecs / 1e10 AS mean_sq_dist
FROM stats s JOIN cent USING (label)
"""

# ---------------------------------------------------------------------------
# Corpus-statistics LM fluency score (trigram model trained on the corpus).


def trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trigram_lm_score(load_table(spark, sf_dir, "documents"))


_TRIGRAM_LM_SQL = """
WITH inst AS (
  SELECT doc_id, tri, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(list_transform(range(length(text) - 2),
               i -> substr(text, CAST(i + 1 AS INTEGER), 3))) AS tri
    FROM documents)
  GROUP BY doc_id, tri
),
c3 AS (SELECT tri, sum(cnt) AS c3 FROM inst GROUP BY tri),
c2 AS (SELECT substr(tri, 1, 2) AS pre, sum(c3) AS c2 FROM c3 GROUP BY 1),
model AS (SELECT tri, CAST(c3 AS DOUBLE) / c2 AS p
          FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pre),
s AS (SELECT i.doc_id, i.cnt, m.p FROM inst i JOIN model m USING (tri))
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
       round(CAST(sum(CAST(floor((CAST(cnt AS DOUBLE) * p) * 1e10 + 0.5)
                          AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(sum(cnt) AS BIGINT) / 1e10, 6) AS mean_tri_prob
FROM s GROUP BY doc_id
"""


def lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality partition: every doc scored by the
    corpus trigram LM (operators.textops.trigram_lm_score — exact-integer
    arithmetic, no libm), then split into head/middle/tail THIRDS by
    distributed_ntile over (score, doc_id) — the named pipeline (Wenzek
    et al. 2020) that keeps the head, inspects the middle, drops the
    tail.  Reported per bucket: size, trigram mass, and the score range.
    The ntile is the range-partition + offset-broadcast operator — no
    single-partition sort at corpus scale; the LM model tables are
    charset-bounded broadcasts however large the corpus."""
    from ..operators.textops import trigram_lm_score
    from ..operators.windows import distributed_ntile

    docs = load_table(spark, sf_dir, "documents")
    scored = trigram_lm_score(docs)
    phased = distributed_ntile(
        scored,
        3,
        [F.col("mean_tri_prob").asc(), F.col("doc_id").asc()],
        bucket_alias="lm_bucket",
    )
    return phased.groupBy("lm_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_trigrams").alias("n_trigrams"),
        F.min("mean_tri_prob").alias("min_prob"),
        F.max("mean_tri_prob").alias("max_prob"),
    )


# the oracle re-derives the per-doc scores with the trigram_lm SQL, then
# applies the same ntile(3) split and rollup
_LM_QUALITY_FILTER_SQL = """
WITH inst AS (
  SELECT doc_id, tri, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(list_transform(range(length(text) - 2),
               i -> substr(text, CAST(i + 1 AS INTEGER), 3))) AS tri
    FROM documents)
  GROUP BY doc_id, tri
),
c3 AS (SELECT tri, sum(cnt) AS c3 FROM inst GROUP BY tri),
c2 AS (SELECT substr(tri, 1, 2) AS pre, sum(c3) AS c2 FROM c3 GROUP BY 1),
model AS (SELECT tri, CAST(c3 AS DOUBLE) / c2 AS p
          FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pre),
s AS (SELECT i.doc_id, i.cnt, m.p FROM inst i JOIN model m USING (tri)),
scored AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
         round(CAST(sum(CAST(floor((CAST(cnt AS DOUBLE) * p) * 1e10 + 0.5)
                            AS DECIMAL(38,0))) AS DOUBLE)
               / CAST(sum(cnt) AS BIGINT) / 1e10, 6) AS mean_tri_prob
  FROM s GROUP BY doc_id
),
phased AS (
  SELECT *, CAST(ntile(3) OVER (ORDER BY mean_tri_prob ASC, doc_id ASC)
                 AS BIGINT) AS lm_bucket
  FROM scored
)
SELECT lm_bucket, count(*) AS n_docs,
       CAST(sum(n_trigrams) AS BIGINT) AS n_trigrams,
       min(mean_tri_prob) AS min_prob,
       max(mean_tri_prob) AS max_prob
FROM phased GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Corpus-wide bigram census: top-k adjacent word pairs (boilerplate /
# collocation report).


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import word_bigram_topk

    return word_bigram_topk(load_table(spark, sf_dir, "documents"), k=25)


def _ngram_topk_sql() -> str:
    from ..operators.textops import word_bigram_topk_sql

    return word_bigram_topk_sql("documents", "text", k=25)


# ---------------------------------------------------------------------------
# Character/lexical diversity per source: Simpson index + type-token ratio
# (the log-free entropy substitutes — operator docstring in textops.py).


def char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import char_diversity_stats

    return char_diversity_stats(load_table(spark, sf_dir, "documents"))


def _char_diversity_sql() -> str:
    from ..operators.textops import char_diversity_stats_sql

    return char_diversity_stats_sql()


# ---------------------------------------------------------------------------
# Count-min sketch over the bigram stream: fixed-size additive frequency
# summary + overestimate audit against the exact census (operator docstring
# in operators/sketches.py).  Bigrams (not unigrams) so the key space is
# wide enough for the 64-cell width to exhibit real collisions.


def cms_heavy_hitters_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    stream = docs.select(F.explode(bigrams).alias("bigram"))
    return cms_heavy_hitters(stream, key_col="bigram", width=64, k=40)


def _cms_heavy_hitters_sql() -> str:
    from ..operators.sketches import cms_heavy_hitters_sql

    source = """
SELECT arr[i] || ' ' || arr[i + 1] AS bigram
FROM (SELECT string_split(text, ' ') AS arr FROM documents),
     unnest(range(1, len(arr))) AS t(i)
"""
    return cms_heavy_hitters_sql(source, "bigram", width=64, k=40)


# ---------------------------------------------------------------------------
# k-NN JOIN: every 100th vector is a "query"; its exact top-5 neighbors from
# the rest of the corpus.  Retrieval-evaluation ground truth (recall@k for
# the ANN paths, hard-negative mining) — one corpus pass for ALL queries.


def embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    corpus = emb.filter(F.col("vec_id") % 100 != 0)
    return knn_join(corpus, queries, k=5)


_KNN_JOIN_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id % 100 <> 0),
scored AS (
  SELECT qid, cid,
         {_dot_sql("cv", "qv")}
           / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")}))
           AS cosine
  FROM q, c),
ranked AS (
  SELECT qid AS query_id, cid AS neighbor_id, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, cid ASC) AS rn
  FROM scored WHERE NOT isnan(cosine))
SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 5
"""

# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@5 of the LSH-bucketed search against the
# exact k-NN ground truth, per query — deterministic (frozen planes), so
# even the approximate path is value-checked.


def ann_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_recall

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    corpus = emb.filter(F.col("vec_id") % 100 != 0)
    return ann_recall(corpus, queries, k=5, n_bits=6)


def _ann_recall_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id % 100 <> 0),
exact AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY {_dot_sql("cv", "qv")}
               / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")}))
               DESC, cid ASC) AS rn
    FROM q, c
    WHERE NOT isnan({_dot_sql("cv", "qv")}
      / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")})))
  ) WHERE rn <= 5),
bc AS (SELECT cid, cv, {_lsh_bucket_sql("cv", 6)} AS b FROM c),
bq AS (SELECT qid, qv, {_lsh_bucket_sql("qv", 6)} AS b FROM q),
ann AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY {_dot_sql("cv", "qv")}
               / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")}))
               DESC, cid ASC) AS rn
    FROM bq JOIN bc USING (b)
    WHERE NOT isnan({_dot_sql("cv", "qv")}
      / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")})))
  ) WHERE rn <= 5),
e_cnt AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid),
a_cnt AS (SELECT qid, count(*) AS n_ann FROM ann GROUP BY qid),
h_cnt AS (SELECT e.qid, count(*) AS n_hits
          FROM exact e JOIN ann a ON a.qid = e.qid AND a.cid = e.cid
          GROUP BY e.qid)
SELECT e_cnt.qid AS query_id, n_exact,
       COALESCE(n_ann, CAST(0 AS BIGINT)) AS n_ann,
       COALESCE(n_hits, CAST(0 AS BIGINT)) AS n_hits,
       1000000 * COALESCE(n_hits, CAST(0 AS BIGINT)) // n_exact AS recall_fp
FROM e_cnt
LEFT JOIN a_cnt ON a_cnt.qid = e_cnt.qid
LEFT JOIN h_cnt ON h_cnt.qid = e_cnt.qid
"""


# ---------------------------------------------------------------------------
# Retrieval evaluation harness: ranked-list quality vs LABEL relevance —
# the metric family the recall gauges deliberately don't cover.  ann_recall/
# pq_recall/ivf_pq_recall measure how well an INDEX approximates exact
# search; this measures how well the EMBEDDING SPACE ranks relevant items
# (same label = relevant), over the exact top-10 — first-relevant rank,
# reciprocal rank, precision@10, hit@10, all in exact integer fixed point
# (1/rank and n/10 as 1e6 DIV k — no float sums, so the table hash-checks).
# Shape: knn_join's one-pass kernel gives |Q| x 10 rows; both label joins
# broadcast that k-row frame against the narrow (id, label) projection, and
# the per-query aggregate is metadata-scale.


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    topk = knn_join(corpus, queries, k=10).select("query_id", "neighbor_id", "rn")
    lab = emb.select("vec_id", "label")
    with_nlab = lab.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlab")
    ).join(F.broadcast(topk), "neighbor_id")
    with_both = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
    ).join(F.broadcast(with_nlab), "query_id")
    rel = F.col("nlab") == F.col("qlab")
    agg = with_both.groupBy("query_id").agg(
        F.coalesce(F.min(F.when(rel, F.col("rn"))), F.lit(0)).alias("first_rank"),
        F.count(F.when(rel, F.lit(1))).alias("n_rel_at_10"),
    )
    return agg.select(
        "query_id",
        F.col("first_rank").cast("int").alias("first_rank"),
        F.expr(
            "CASE WHEN first_rank > 0 THEN 1000000 DIV first_rank "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("rr_ppm"),
        "n_rel_at_10",
        F.expr("1000000 * n_rel_at_10 DIV 10").alias("prec10_ppm"),
        (F.col("n_rel_at_10") > 0).alias("hit10"),
    )


_RETRIEVAL_EVAL_SQL = f"""
WITH q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS cid, label AS clab, embedding AS cv
      FROM embeddings WHERE vec_id % 50 <> 0),
ranked AS (
  SELECT qid, qlab, cid, clab,
         row_number() OVER (PARTITION BY qid
                            ORDER BY {_dot_sql("cv", "qv")}
                              / (sqrt({_dot_sql("cv", "cv")})
                                 * sqrt({_dot_sql("qv", "qv")})) DESC,
                              cid ASC) AS rn
  FROM q, c
  WHERE NOT isnan({_dot_sql("cv", "qv")}
    / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")})))),
agg AS (
  SELECT qid,
         coalesce(min(CASE WHEN clab = qlab THEN rn END), 0) AS first_rank,
         CAST(count(CASE WHEN clab = qlab THEN 1 END) AS BIGINT)
           AS n_rel_at_10
  FROM ranked WHERE rn <= 10 GROUP BY qid)
SELECT qid AS query_id,
       CAST(first_rank AS INTEGER) AS first_rank,
       CAST(CASE WHEN first_rank > 0 THEN 1000000 // first_rank
                 ELSE 0 END AS BIGINT) AS rr_ppm,
       n_rel_at_10,
       1000000 * n_rel_at_10 // 10 AS prec10_ppm,
       n_rel_at_10 > 0 AS hit10
FROM agg
"""


# ---------------------------------------------------------------------------
# Contrastive training-pair construction: every 50th vector is an anchor;
# one exact corpus pass mines its nearest same-label positive and its 3
# nearest different-label hard negatives — the (anchor, positive, negative)
# triplet table contrastive embedding training consumes, where a negative
# scoring HIGH despite the wrong label is precisely the pair worth
# training on.  Reference analog: the anti-join existence-probe shape
# (IfNotExistsFilter, INEF:56-58) — a masked nearest-neighbor probe is the
# same "relate each row to a keyed reference set" contract, here by
# similarity instead of key equality.


def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    return contrastive_topk(emb, anchors, k_pos=1, k_neg=3)


_CONTRASTIVE_TRIPLETS_SQL = f"""
WITH a AS (SELECT vec_id AS aid, label AS alab, embedding AS av
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS cid, label AS clab, embedding AS cv FROM embeddings),
scored AS (
  SELECT aid, alab, cid, clab,
         {_dot_sql("cv", "av")}
           / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("av", "av")}))
           AS cosine
  FROM a, c),
pos AS (
  SELECT aid, 'pos' AS role, cid, cosine,
         row_number() OVER (PARTITION BY aid
                            ORDER BY cosine DESC, cid ASC) AS rn
  FROM scored WHERE NOT isnan(cosine) AND clab = alab AND cid <> aid),
neg AS (
  SELECT aid, 'neg' AS role, cid, cosine,
         row_number() OVER (PARTITION BY aid
                            ORDER BY cosine DESC, cid ASC) AS rn
  FROM scored WHERE NOT isnan(cosine) AND clab <> alab)
SELECT aid AS anchor_id, role, CAST(rn AS INTEGER) AS rn,
       cid AS neighbor_id, cosine
FROM (SELECT * FROM pos WHERE rn <= 1
      UNION ALL
      SELECT * FROM neg WHERE rn <= 3)
"""


# ---------------------------------------------------------------------------
# LSH n_bits tuning curve — the knob-sweep table the LSH leg was missing
# (ivf_pq_probe_curve tunes n_probe, semdedup_threshold_curve tunes the
# dedup cutoff; ann_recall measures ONE n_bits).  Per n_bits in (4, 6, 8):
# aggregate recall@5 vs the exact k-NN ground truth AND the candidate
# volume the bucket join scores (the cost axis — halving bits doubles
# expected bucket occupancy).  ONE bucketing pass serves every level:
# bucket bit b is the sign of plane b's projection, so the b-bit bucket is
# the 8-bit bucket masked to its low b bits — the prefix trick of
# dim_truncation_recall applied to the hash axis.  The oracle computes
# each level's bucket directly from the frozen-LCG plane formula; masked
# join and direct join are bit-identical by construction.

_LSH_CURVE_BITS = (4, 6, 8)


def lsh_nbits_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    from ..operators.caching import materialized
    from ..operators.similarity import cosine, with_bucket_ids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    corpus = emb.filter(F.col("vec_id") % 100 != 0)
    max_bits = _LSH_CURVE_BITS[-1]
    bc = materialized(
        with_bucket_ids(corpus, "embedding", max_bits).select(
            "vec_id", "embedding", "__bucket"
        )
    )
    bq = materialized(
        with_bucket_ids(queries, "embedding", max_bits).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
            F.col("__bucket").alias("__qbucket"),
        )
    )
    levels = None
    for nb in _LSH_CURVE_BITS:
        mask = (1 << nb) - 1
        cand = (
            bc.join(
                F.broadcast(
                    bq.withColumn(
                        "__qb", F.col("__qbucket").bitwiseAND(F.lit(mask))
                    )
                ),
                bc["__bucket"].bitwiseAND(F.lit(mask)) == F.col("__qb"),
            )
            .select(
                F.lit(nb).alias("n_bits"),
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine("embedding", "__qv").alias("cosine"),
            )
            .filter(~F.isnan("cosine"))
        )
        levels = cand if levels is None else levels.unionAll(cand)
    cands = materialized(levels)
    ncand = cands.groupBy("n_bits").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    w = _W.partitionBy("n_bits", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ann = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("n_bits", "query_id", "neighbor_id")
    )
    exact = materialized(
        knn_join(corpus, queries, 5).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        ann.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left")
        .groupBy("n_bits")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits")
        )
    )
    return (
        ncand.join(hits, "n_bits")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_bits",
            "n_candidates",
            "n_hits",
            "n_exact",
            F.expr("1000000 * n_hits DIV n_exact").alias("recall_ppm"),
        )
        .orderBy("n_bits")
    )


def _lsh_nbits_curve_sql() -> str:
    legs = []
    for nb in _LSH_CURVE_BITS:
        legs.append(f"""cand{nb} AS (
  SELECT {nb} AS n_bits, qid, cid, cosine FROM (
    SELECT q2.qid, c2.cid,
           {_dot_sql("c2.cv", "q2.qv")}
             / (sqrt({_dot_sql("c2.cv", "c2.cv")})
                * sqrt({_dot_sql("q2.qv", "q2.qv")})) AS cosine
    FROM (SELECT qid, qv, ({_lsh_bucket_sql("qv", nb)}) AS b FROM q) q2
    JOIN (SELECT cid, cv, ({_lsh_bucket_sql("cv", nb)}) AS b FROM c) c2
      ON c2.b = q2.b) s
  WHERE NOT isnan(cosine))""")
    legs_sql = ",\n".join(legs)
    union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM cand{nb}" for nb in _LSH_CURVE_BITS
    )
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id % 100 <> 0),
{legs_sql},
cands AS (
  {union}),
ncand AS (SELECT n_bits, count(*) AS n_candidates FROM cands
          GROUP BY n_bits),
ann AS (
  SELECT n_bits, qid, cid FROM (
    SELECT n_bits, qid, cid,
           row_number() OVER (PARTITION BY n_bits, qid
                              ORDER BY cosine DESC, cid ASC) AS rn
    FROM cands) r
  WHERE rn <= 5),
exact AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, cid ASC) AS rn
    FROM (
      SELECT qid, cid,
             {_dot_sql("cv", "qv")}
               / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("qv", "qv")}))
               AS cosine
      FROM q, c) s
    WHERE NOT isnan(cosine)) r
  WHERE rn <= 5),
tot AS (SELECT count(*) AS n_exact FROM exact),
hits AS (
  SELECT ann.n_bits,
         CAST(sum(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits
  FROM ann LEFT JOIN exact e ON e.qid = ann.qid AND e.cid = ann.cid
  GROUP BY ann.n_bits)
SELECT CAST(ncand.n_bits AS INTEGER) AS n_bits, n_candidates, n_hits,
       n_exact, 1000000 * n_hits // n_exact AS recall_ppm
FROM ncand JOIN hits ON hits.n_bits = ncand.n_bits
CROSS JOIN tot
ORDER BY n_bits
"""


# ---------------------------------------------------------------------------
# Embedding separability gauge, read off the contrastive miner: per label,
# the margin cos(nearest same-label) - cos(nearest different-label) over
# the anchor set — the number that says whether the space is trainable at
# all (wide positive margins) and WHICH labels are entangled (negative
# margins: the anchor's nearest wrong-label vector outscores its nearest
# right-label one).  Margins are floor-quantized to integer ppm per anchor
# and only ever summed/min/maxed — no division, so Spark's truncating DIV
# vs DuckDB's flooring // on negative values never comes into play.


def embedding_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    trip = contrastive_topk(emb, anchors, k_pos=1, k_neg=1)
    pos = trip.filter(F.col("role") == "pos").select(
        "anchor_id", F.col("cosine").alias("pos_cos")
    )
    neg = trip.filter(F.col("role") == "neg").select(
        "anchor_id", F.col("cosine").alias("neg_cos")
    )
    m = pos.join(neg, "anchor_id").select(
        "anchor_id",
        F.floor((F.col("pos_cos") - F.col("neg_cos")) * F.lit(1000000.0))
        .cast("long")
        .alias("margin_ppm"),
    )
    lab = emb.select(F.col("vec_id").alias("anchor_id"), "label")
    return (
        lab.join(F.broadcast(m), "anchor_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.sum((F.col("margin_ppm") < 0).cast("long")).alias(
                "n_negative_margin"
            ),
            F.sum("margin_ppm").alias("sum_margin_ppm"),
            F.min("margin_ppm").alias("min_margin_ppm"),
            F.max("margin_ppm").alias("max_margin_ppm"),
        )
    )


_EMBEDDING_MARGIN_STATS_SQL = f"""
WITH a AS (SELECT vec_id AS aid, label AS alab, embedding AS av
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS cid, label AS clab, embedding AS cv FROM embeddings),
scored AS (
  SELECT aid, alab, cid, clab,
         {_dot_sql("cv", "av")}
           / (sqrt({_dot_sql("cv", "cv")}) * sqrt({_dot_sql("av", "av")}))
           AS cosine
  FROM a, c),
pos AS (
  SELECT aid, cosine,
         row_number() OVER (PARTITION BY aid
                            ORDER BY cosine DESC, cid ASC) AS rn
  FROM scored WHERE NOT isnan(cosine) AND clab = alab AND cid <> aid),
neg AS (
  SELECT aid, cosine,
         row_number() OVER (PARTITION BY aid
                            ORDER BY cosine DESC, cid ASC) AS rn
  FROM scored WHERE NOT isnan(cosine) AND clab <> alab),
m AS (
  SELECT p.aid,
         CAST(floor((p.cosine - n.cosine) * 1000000.0) AS BIGINT)
           AS margin_ppm
  FROM (SELECT aid, cosine FROM pos WHERE rn = 1) p
  JOIN (SELECT aid, cosine FROM neg WHERE rn = 1) n ON n.aid = p.aid)
SELECT label,
       count(*) AS n_anchors,
       CAST(sum(CASE WHEN margin_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative_margin,
       CAST(sum(margin_ppm) AS BIGINT) AS sum_margin_ppm,
       min(margin_ppm) AS min_margin_ppm,
       max(margin_ppm) AS max_margin_ppm
FROM m JOIN embeddings e ON e.vec_id = m.aid
GROUP BY label
"""


# ---------------------------------------------------------------------------
# Matryoshka dimension-truncation tuning table: recall@10 of search over
# each embedding PREFIX (first 8/16/32/64 dims) vs the full-dim exact
# top-10 — "how many dims can serve-time search drop" measured before a
# truncated index layout is committed (the probe-curve/threshold-curve
# discipline applied to the dimension axis).  One corpus pass scores every
# truncation level: a truncated dot is a prefix of the sequential fold, so
# the kernel snapshots its running accumulators instead of rescanning.

_DIM_RECALL_DIMS = (8, 16, 32, 64)


def dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return prefix_dim_recall(corpus, queries, dims=_DIM_RECALL_DIMS, k=10)


def _dim_truncation_recall_sql() -> str:
    legs = []
    for d in _DIM_RECALL_DIMS:
        cv, qv = f"(cv[1:{d}])", f"(qv[1:{d}])"
        legs.append(f"""top{d} AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, cid ASC) AS rn
    FROM (
      SELECT qid, cid,
             {_dot_sql(cv, qv)}
               / (sqrt({_dot_sql(cv, cv)}) * sqrt({_dot_sql(qv, qv)}))
               AS cosine
      FROM q, c)
    WHERE NOT isnan(cosine)) WHERE rn <= 10)""")
    cand = "\n  UNION ALL\n  ".join(
        f"SELECT {d} AS dim, qid, cid FROM top{d}" for d in _DIM_RECALL_DIMS
    )
    full = _DIM_RECALL_DIMS[-1]
    hits = "CAST(sum(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
    legs_sql = ",\n".join(legs)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id % 50 <> 0),
{legs_sql},
cand AS (
  {cand}),
exact AS (SELECT qid, cid FROM top{full}),
tot AS (SELECT count(*) AS n_exact FROM exact)
SELECT CAST(cand.dim AS INTEGER) AS dim,
       {hits} AS n_hits,
       n_exact,
       1000000 * {hits} // n_exact AS recall_ppm
FROM cand
LEFT JOIN exact e ON e.qid = cand.qid AND e.cid = cand.cid
CROSS JOIN tot
GROUP BY cand.dim, n_exact
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# Collocation mining: top bigrams by PMI lift against unigram independence.


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_pmi_topk(load_table(spark, sf_dir, "documents"), k=30)


# ---------------------------------------------------------------------------
# Trained-artifact persistence (VERDICT r06 ask #2): every *_from_artifacts
# query is the BUILD-ONCE / SERVE-MANY form of its inline-training original
# — train+save on first call (per fixture per process), then LOAD the saved
# structure and serve from it.  Each shares its oracle SQL with the
# original: the driver hash pass is therefore an end-to-end proof that the
# parquet round trip of the trained structure is value-exact (the
# bucketed_join write-then-read discipline applied to indexes and models).
# The reference analog is its initialize-time build-once contract
# (DataMigrationProcess.java:106-135: statements prepared and MVEL compiled
# once per pipeline, never per row/run).


def ivf_pq_from_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served from the SAVED index: first call builds and persists
    codes + coarse centroids + PQ codebooks (operators.clustering.
    ivf_pq_build); every call after loads and serves — cell probe + ADC
    over the integer code table, zero training.  Same oracle as ivf_pq:
    load-then-serve must hash-equal train-then-serve."""
    from ..operators.clustering import (
        _query_vector,
        ivf_pq_build,
        ivf_pq_serve,
    )
    from ..sinks.artifacts import artifact_store, has_artifact

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    # Gate on ALL THREE artifacts (ADVICE r07): ivf_pq_build also commits
    # ivfpq_codes last, so either defense alone would rebuild after a
    # partial save instead of crashing in load_pq_codebooks.
    if not all(
        has_artifact(store, a)
        for a in ("ivfpq_codes", "ivf_centroids", "pq_codebooks")
    ):
        ivf_pq_build(emb, store, n_cells=8)
    qv = _query_vector(emb, 0, "embedding", "vec_id", 4, 16)
    return ivf_pq_serve(spark, store, qv, topk=10, n_probe=2)


def ivf_pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving a query SET from the SAVED index (VERDICT r07 ask
    #3 — the thousand-queries-one-index shape): top-10 per query for the
    8 queries ``vec_id < 8``, ONE scan of the integer codes table, the
    |Q| x n_probe (query, cell, LUT) frame riding as a broadcast
    (operators.clustering.ivf_pq_serve_batch).  Build gate shared with
    ivf_pq_from_artifacts (all three artifacts, ADVICE r07)."""
    from ..operators.clustering import (
        _query_vectors,
        ivf_pq_build,
        ivf_pq_serve_batch,
    )
    from ..sinks.artifacts import artifact_store, has_artifact

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    if not all(
        has_artifact(store, a)
        for a in ("ivfpq_codes", "ivf_centroids", "pq_codebooks")
    ):
        ivf_pq_build(emb, store, n_cells=8)
    queries = _query_vectors(emb, 8, "embedding", "vec_id", 4, 16)
    return ivf_pq_serve_batch(spark, store, queries, topk=10, n_probe=2)


def _ivf_pq_batch_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_batch_sql

    return ivf_pq_ann_batch_sql(
        n_queries=8, topk=10, n_cells=8, n_probe=2
    )


def retrieval_eval_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieval_eval's metrics over the SERVED index path — the
    end-to-end task-quality number a production store actually ships:
    the saved IVF-PQ index serves the 8-query batch (ivf_pq_batch's
    exact plan, topk=11), the query's own row is excluded and the
    survivors re-ranked (a query vector is in the corpus, so without
    the exclusion every first_rank would trivially be 1), and the same
    integer-exact first-rank / MRR / precision@10 / hit@10 table is
    computed with label match as relevance.  Read next to
    `retrieval_eval` (exact top-10) and `ivf_pq_recall` (index vs
    exact): recall says how much of the exact list the index returns;
    THIS says what the loss costs on the task the list is for.  Scale
    shape: one codes scan for the whole batch, |Q| x 11 rows onward."""
    from ..operators.clustering import (
        _query_vectors,
        ivf_pq_build,
        ivf_pq_serve_batch,
    )
    from ..sinks.artifacts import artifact_store, has_artifact
    from pyspark.sql import Window as _W

    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    if not all(
        has_artifact(store, a)
        for a in ("ivfpq_codes", "ivf_centroids", "pq_codebooks")
    ):
        ivf_pq_build(emb, store, n_cells=8)
    queries = _query_vectors(emb, 8, "embedding", "vec_id", 4, 16)
    served = ivf_pq_serve_batch(spark, store, queries, topk=11, n_probe=2)
    reranked = (
        served.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rn2",
            F.row_number().over(
                _W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
            ),
        )
        .filter(F.col("rn2") <= 10)
        .select("query_id", "vec_id", "rn2")
    )
    lab = emb.select("vec_id", "label")
    with_nlab = lab.withColumnRenamed("label", "nlab").join(
        F.broadcast(reranked), "vec_id"
    )
    with_both = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
    ).join(F.broadcast(with_nlab), "query_id")
    rel = F.col("nlab") == F.col("qlab")
    agg = with_both.groupBy("query_id").agg(
        F.coalesce(F.min(F.when(rel, F.col("rn2"))), F.lit(0)).alias(
            "first_rank"
        ),
        F.count(F.when(rel, F.lit(1))).alias("n_rel_at_10"),
    )
    return agg.select(
        "query_id",
        F.col("first_rank").cast("int").alias("first_rank"),
        F.expr(
            "CASE WHEN first_rank > 0 THEN 1000000 DIV first_rank "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("rr_ppm"),
        "n_rel_at_10",
        F.expr("1000000 * n_rel_at_10 DIV 10").alias("prec10_ppm"),
        (F.col("n_rel_at_10") > 0).alias("hit10"),
    )


def _retrieval_eval_ann_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_batch_sql

    served = ivf_pq_ann_batch_sql(n_queries=8, topk=11, n_cells=8, n_probe=2)
    return f"""
WITH served AS ({served}),
reranked AS (
  SELECT query_id, vec_id, rn2 FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, vec_id) AS rn2
    FROM served WHERE vec_id <> query_id) r
  WHERE rn2 <= 10),
lab AS (SELECT vec_id, label FROM embeddings),
j AS (
  SELECT t.query_id, t.rn2, nl.label AS nlab, ql.label AS qlab
  FROM reranked t
  JOIN lab nl ON nl.vec_id = t.vec_id
  JOIN lab ql ON ql.vec_id = t.query_id),
agg AS (
  SELECT query_id,
         coalesce(min(CASE WHEN nlab = qlab THEN rn2 END), 0) AS first_rank,
         CAST(count(CASE WHEN nlab = qlab THEN 1 END) AS BIGINT)
           AS n_rel_at_10
  FROM j GROUP BY query_id)
SELECT query_id,
       CAST(first_rank AS INTEGER) AS first_rank,
       CAST(CASE WHEN first_rank > 0 THEN 1000000 // first_rank
                 ELSE 0 END AS BIGINT) AS rr_ppm,
       n_rel_at_10,
       1000000 * n_rel_at_10 // 10 AS prec10_ppm,
       n_rel_at_10 > 0 AS hit10
FROM agg
"""


def ivf_pq_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n_probe TUNING CURVE — the speed/recall tradeoff table an
    index operator reads to SET n_probe, which every fixed-n_probe serve
    query here assumes was already chosen: for each probe budget in
    (1, 2, 4, 8), the saved full-corpus IVF-PQ index serves the 4-query
    batch (the exact ivf_pq_batch ADC plan per budget) and the row
    reports mean recall@10 vs the exact neighbors in exact ppm AND the
    candidate volume that budget scans (the cost axis: candidates grow
    with probed cells, recall saturates at the ADC distortion ceiling —
    probing all 8 cells still misranks what quantization blurred).
    Exact side computed with the SAME per-subspace distance folds as the
    oracle so both engines sum subspaces in the same order.  All counts
    are metadata-scale collects (n_cells census, per-budget hit counts);
    the corpus work is one codes scan per budget plus one exact pass."""
    from pyspark.sql import Window as _W

    from ..operators.clustering import (
        _probe_cells,
        _query_vectors,
        _sq_dist,
        ivf_pq_adc_batch,
        ivf_pq_build,
    )
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        load_coarse_centroids,
        load_pq_codebooks,
    )

    m, sub_dim, n_cells, topk, n_q = 4, 16, 8, 10, 4
    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)
    if not all(
        has_artifact(store, a)
        for a in ("ivfpq_codes", "ivf_centroids", "pq_codebooks")
    ):
        ivf_pq_build(emb, store, n_cells=n_cells)
    codes = load_artifact(spark, store, "ivfpq_codes")
    cents = load_pq_codebooks(spark, store)
    cell_ids, cvecs = load_coarse_centroids(spark, store)
    queries = _query_vectors(emb, n_q, "embedding", "vec_id", m, sub_dim)

    # exact top-k per query by the subspace-sum distance (broadcast
    # query frame carrying pre-sliced subspace arrays)
    qdf = F.broadcast(
        spark.createDataFrame(
            [
                (
                    int(qid),
                    *[
                        [float(x) for x in qv[s * sub_dim:(s + 1) * sub_dim]]
                        for s in range(m)
                    ],
                )
                for qid, qv in queries
            ],
            "query_id long, "
            + ", ".join(f"__qs{s} array<double>" for s in range(m)),
        )
    )
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= m * sub_dim)
    )
    # single-parse SQL build: identical left-associative sum from 0.0D
    d = F.expr(
        "0.0D + "
        + " + ".join(
            sqlexpr.sq_dist(
                sqlexpr.to_double_arr(
                    f"slice(`embedding`, {s * sub_dim + 1}, {sub_dim})"
                ),
                f"`__qs{s}`",
            )
            for s in range(m)
        )
    )
    w = _W.partitionBy("query_id").orderBy("d", F.col("vec_id").asc())
    exact = (
        valid.crossJoin(qdf)
        .select("query_id", "vec_id", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("query_id", "vec_id")
    )
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.caching import materialized

    # eager: the four probe legs below consume it concurrently
    exact = materialized(exact, eager=True)

    # metadata-scale: <= n_cells census rows
    census = {
        r["cell"]: int(r["n"])
        for r in codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    # the four probe budgets are INDEPENDENT serves over the same loaded
    # index and the same materialized exact set — overlap them (guide
    # §2.6, the graph_beam_curve pattern); pool.map preserves row order
    def leg(p: int):
        serve = ivf_pq_adc_batch(
            spark, codes, cents, cell_ids, cvecs, queries,
            topk=topk, n_probe=p,
        ).select("query_id", "vec_id")
        n_hits = serve.join(
            F.broadcast(exact), ["query_id", "vec_id"]
        ).count()
        n_cand = sum(
            census.get(int(c), 0)
            for _, qv in queries
            for c in _probe_cells(qv, cell_ids, cvecs, p, m, sub_dim)
        )
        return (p, n_hits, 1_000_000 * n_hits // (n_q * topk), n_cand)

    with ThreadPoolExecutor(max_workers=4) as pool:
        rows = list(pool.map(leg, (1, 2, 4, 8)))
    return spark.createDataFrame(
        rows,
        "n_probe long, n_hits long, mean_recall_ppm long, "
        "n_candidates long",
    )


def _ivf_pq_probe_curve_sql() -> str:
    from ..operators.clustering import ivf_pq_probe_curve_sql

    return ivf_pq_probe_curve_sql(
        n_queries=4, topk=10, n_cells=8, probes=(1, 2, 4, 8)
    )


def graph_ann_from_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN served from the SAVED index: node table (id, cell,
    embedding — the by-id-probe layout) and kNN edge table persisted on
    first call, then the beam walk runs entirely over loaded frames
    (build-or-load shared with the batched walks via
    :func:`_graph_artifacts` since r9).  Same oracle as
    graph_ann_search."""
    from ..operators.similarity import graph_beam_search

    emb, nodes, edges = _graph_artifacts(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0)
    return graph_beam_search(nodes, edges, query, k=10, beam=4, hops=3)


def bpe_encode_from_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding with a SAVED tokenizer: merges + base vocab persisted
    on first call (the tokenizer file), then every encode loads the two
    metadata-scale tables and runs the zero-shuffle Arrow kernel.  Same
    pinned oracle as bpe_encode — a hash pass proves the saved tokenizer
    reproduces every token id of every document."""
    from ..operators.bpe import base_char_vocab, bpe_encode_docs, bpe_train, word_census
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_bpe_tokenizer,
        save_bpe_tokenizer,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = artifact_store(sf_dir)
    if not (
        has_artifact(store, "bpe_merges") and has_artifact(store, "bpe_vocab")
    ):
        merges = bpe_train(word_census(docs), n_merges=20)
        vocab = base_char_vocab(docs)
        save_bpe_tokenizer(spark, store, merges, vocab)
    merges, vocab = load_bpe_tokenizer(spark, store)
    return _bpe_len_bucket_census(bpe_encode_docs(docs, merges, vocab))


def lm_score_from_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM scoring with a SAVED model: the charset-bounded
    (__tri, __p) model table persisted on first call, then scoring joins
    docs against the loaded broadcastable model — the CCNet serving shape
    (score a new crawl against a FIXED reference LM).  Same oracle as
    trigram_lm: doubles round-trip parquet bit-exactly."""
    from ..operators.textops import trigram_lm_model, trigram_lm_score
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        save_artifact,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = artifact_store(sf_dir)
    if not has_artifact(store, "trigram_lm_model"):
        save_artifact(trigram_lm_model(docs), store, "trigram_lm_model")
    model = load_artifact(spark, store, "trigram_lm_model")
    return trigram_lm_score(docs, model=model)


# ---------------------------------------------------------------------------
# Serve-leg planner (VERDICT r10 ask #7): the task-eval harness taken to its
# DECISION — the r10 census->action pattern (index_retrain turned drift
# reports into a retrain) applied to serving strategy.  Reads the four
# retrieval_eval_* metric tables plus the three tuning curves and emits one
# row per serve leg (exact / ivf_pq / lsh / graph): the cheapest knob
# setting meeting the declared recall floor, the leg's task-quality
# aggregates, and the planner's pick — among floor-meeting legs, the lowest
# serve cost (candidates scanned / nodes visited), task MRR as tiebreaker,
# falling back to exact brute force when no index leg clears the floor.

#: Declared recall floor for the planner (curve recall@k, ppm).  At the
#: fixture scales the graph and IVF legs clear it and LSH does not, so the
#: decision table exercises both branches.
_SERVE_PLANNER_FLOOR_PPM = 300_000


def serve_leg_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per serve leg: (leg, knob, knob_value, curve_recall_ppm,
    curve_cost, floor_met, n_queries, mean_rr_ppm, mean_prec10_ppm,
    hit_rate_ppm, chosen).  Per-leg knob pick: the floor-meeting curve
    row with the lowest cost (ties: smaller knob); legs missing the
    floor keep their best-recall row with floor_met=false.  The exact
    leg is the always-eligible baseline at corpus-scan cost.  All inputs
    are the already-metadata-scale eval/curve tables; the planner itself
    is a 4-row window — serve cost is the underlying legs', shared
    through the content-token artifact store.

    The seven component tables PERSIST as ``metric_*`` artifacts under
    the content-token key on first computation — a planner READS metric
    tables, it does not re-run the eval harness per decision (the
    build-once/serve-many discipline applied to the eval plane).  Every
    metric column is integer/boolean/string, so the parquet round-trip
    is value-exact and the first call hash-equals every later one."""
    from pyspark.sql import Window as _W

    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        save_artifact,
    )

    floor = _SERVE_PLANNER_FLOOR_PPM
    emb = load_table(spark, sf_dir, "embeddings")
    store = artifact_store(sf_dir)

    def metric_table(name: str, compute) -> DataFrame:
        art = f"metric_{name}"
        if not has_artifact(store, art):
            save_artifact(compute(spark, sf_dir), store, art)
        return load_artifact(spark, store, art)

    def leg_metrics(leg: str, ev: DataFrame) -> DataFrame:
        return ev.agg(
            F.lit(leg).alias("leg"),
            F.count(F.lit(1)).alias("n_queries"),
            F.expr("sum(rr_ppm) DIV count(*)").alias("mean_rr_ppm"),
            F.expr("sum(prec10_ppm) DIV count(*)").alias("mean_prec10_ppm"),
            F.expr(
                "1000000 * sum(CASE WHEN hit10 THEN 1 ELSE 0 END) "
                "DIV count(*)"
            ).alias("hit_rate_ppm"),
        )

    evals = (
        leg_metrics("exact", metric_table("retrieval_eval", retrieval_eval))
        .unionByName(
            leg_metrics(
                "ivf_pq", metric_table("retrieval_eval_ann", retrieval_eval_ann)
            )
        )
        .unionByName(
            leg_metrics(
                "lsh", metric_table("retrieval_eval_lsh", retrieval_eval_lsh)
            )
        )
        .unionByName(
            leg_metrics(
                "graph",
                metric_table("retrieval_eval_graph", retrieval_eval_graph),
            )
        )
    )

    exact_cost = (
        emb.where(
            (F.col("vec_id") % 50 != 0)
            & F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
        )
        .agg(F.count(F.lit(1)).alias("curve_cost"))
        .select(
            F.lit("exact").alias("leg"),
            F.lit("none").alias("knob"),
            F.lit(0).cast("int").alias("knob_value"),
            F.lit(1_000_000).cast("long").alias("curve_recall_ppm"),
            F.col("curve_cost").cast("long"),
        )
    )
    curves = (
        exact_cost.unionByName(
            metric_table("ivf_pq_probe_curve", ivf_pq_probe_curve).select(
                F.lit("ivf_pq").alias("leg"),
                F.lit("n_probe").alias("knob"),
                F.col("n_probe").cast("int").alias("knob_value"),
                F.col("mean_recall_ppm").cast("long").alias("curve_recall_ppm"),
                F.col("n_candidates").cast("long").alias("curve_cost"),
            )
        )
        .unionByName(
            metric_table("lsh_nbits_curve", lsh_nbits_curve).select(
                F.lit("lsh").alias("leg"),
                F.lit("n_bits").alias("knob"),
                F.col("n_bits").cast("int").alias("knob_value"),
                F.col("recall_ppm").cast("long").alias("curve_recall_ppm"),
                F.col("n_candidates").cast("long").alias("curve_cost"),
            )
        )
        .unionByName(
            metric_table("graph_beam_curve", graph_beam_curve).select(
                F.lit("graph").alias("leg"),
                F.lit("beam").alias("knob"),
                F.col("beam").cast("int").alias("knob_value"),
                F.col("recall_ppm").cast("long").alias("curve_recall_ppm"),
                F.col("n_visited").cast("long").alias("curve_cost"),
            )
        )
    )
    meets = F.col("curve_recall_ppm") >= floor
    pick_w = _W.partitionBy("leg").orderBy(
        F.when(meets, F.lit(0)).otherwise(F.lit(1)).asc(),
        F.when(meets, F.col("curve_cost"))
        .otherwise(-F.col("curve_recall_ppm"))
        .asc(),
        F.col("knob_value").asc(),
    )
    picks = (
        curves.withColumn("__rn", F.row_number().over(pick_w))
        .filter(F.col("__rn") == 1)
        .select(
            "leg", "knob", "knob_value", "curve_recall_ppm", "curve_cost",
            meets.alias("floor_met"),
        )
    )
    joined = picks.join(evals, "leg")
    choose_w = _W.orderBy(
        F.col("floor_met").desc(),
        F.col("curve_cost").asc(),
        F.col("mean_rr_ppm").desc(),
        F.col("leg").asc(),
    )
    return (
        joined.withColumn("__cn", F.row_number().over(choose_w))
        .select(
            "leg", "knob", "knob_value", "curve_recall_ppm", "curve_cost",
            "floor_met", "n_queries", "mean_rr_ppm", "mean_prec10_ppm",
            "hit_rate_ppm", (F.col("__cn") == 1).alias("chosen"),
        )
        .orderBy("leg")
    )


def _serve_leg_planner_sql() -> str:
    from ..operators.clustering import ivf_pq_probe_curve_sql

    floor = _SERVE_PLANNER_FLOOR_PPM
    legs_eval = [
        ("exact", _RETRIEVAL_EVAL_SQL),
        ("ivf_pq", _retrieval_eval_ann_sql()),
        ("lsh", _RETRIEVAL_EVAL_LSH_SQL),
        ("graph", _RETRIEVAL_EVAL_GRAPH_SQL),
    ]
    ev_ctes = ",\n".join(
        f"ev_{leg} AS ({sql})" for leg, sql in legs_eval
    )
    ev_union = "\n  UNION ALL\n  ".join(
        f"SELECT '{leg}' AS leg, COUNT(*) AS n_queries,\n"
        f"         CAST(SUM(rr_ppm) AS BIGINT) // COUNT(*) AS mean_rr_ppm,\n"
        f"         CAST(SUM(prec10_ppm) AS BIGINT) // COUNT(*)"
        f" AS mean_prec10_ppm,\n"
        f"         1000000 * CAST(SUM(CASE WHEN hit10 THEN 1 ELSE 0 END)"
        f" AS BIGINT) // COUNT(*) AS hit_rate_ppm\n"
        f"  FROM ev_{leg}"
        for leg, _ in legs_eval
    )
    cv_ivf = ivf_pq_probe_curve_sql(
        n_queries=4, topk=10, n_cells=8, probes=(1, 2, 4, 8)
    )
    return f"""
WITH {ev_ctes},
cv_ivf AS ({cv_ivf}),
cv_lsh AS ({_lsh_nbits_curve_sql()}),
cv_graph AS ({_graph_beam_curve_sql()}),
evals AS (
  {ev_union}),
curves AS (
  SELECT 'exact' AS leg, 'none' AS knob, CAST(0 AS INTEGER) AS knob_value,
         CAST(1000000 AS BIGINT) AS curve_recall_ppm,
         (SELECT count(*) FROM embeddings
          WHERE vec_id % 50 <> 0 AND embedding IS NOT NULL
            AND len(embedding) > 0) AS curve_cost
  UNION ALL
  SELECT 'ivf_pq', 'n_probe', CAST(n_probe AS INTEGER),
         CAST(mean_recall_ppm AS BIGINT), CAST(n_candidates AS BIGINT)
  FROM cv_ivf
  UNION ALL
  SELECT 'lsh', 'n_bits', CAST(n_bits AS INTEGER),
         CAST(recall_ppm AS BIGINT), CAST(n_candidates AS BIGINT)
  FROM cv_lsh
  UNION ALL
  SELECT 'graph', 'beam', CAST(beam AS INTEGER),
         CAST(recall_ppm AS BIGINT), CAST(n_visited AS BIGINT)
  FROM cv_graph),
picks AS (
  SELECT leg, knob, knob_value, curve_recall_ppm, curve_cost,
         curve_recall_ppm >= {floor} AS floor_met
  FROM (
    SELECT *, row_number() OVER (PARTITION BY leg ORDER BY
             CASE WHEN curve_recall_ppm >= {floor} THEN 0 ELSE 1 END,
             CASE WHEN curve_recall_ppm >= {floor} THEN curve_cost
                  ELSE -curve_recall_ppm END,
             knob_value) AS rn
    FROM curves) c
  WHERE rn = 1),
joined AS (
  SELECT p.*, e.n_queries, e.mean_rr_ppm, e.mean_prec10_ppm, e.hit_rate_ppm
  FROM picks p JOIN evals e USING (leg))
SELECT leg, knob, knob_value, curve_recall_ppm, curve_cost, floor_met,
       n_queries, mean_rr_ppm, mean_prec10_ppm, hit_rate_ppm,
       row_number() OVER (ORDER BY floor_met DESC, curve_cost ASC,
                          mean_rr_ppm DESC, leg ASC) = 1 AS chosen
FROM joined
ORDER BY leg
"""


# ---------------------------------------------------------------------------
# Planned serve (the decision APPLIED): serve_leg_planner picks (leg, knob);
# this query executes that pick — census -> decision -> ACTION, the full
# index_retrain arc on the serving side.  The oracle cannot know the pick
# ahead of time, so it enumerates every (leg, knob) variant the curves
# sweep (graph beams 1/2/4, IVF probes 1/2/4/8, LSH bits 4/6/8, exact) as
# independent nested-scope serve queries and joins them against the
# planner's chosen row — fully general across the knob domain, no pinned
# decision.

_PLANNED_SERVE_K = 10
_PLANNED_SERVE_NQ = 4


def planned_serve_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the 4-query batch with the planner-chosen leg at its picked
    knob: (leg, knob_value, query_id, vec_id, rn).  The planner collect
    is 4 rows (metadata-scale by construction); the serve is the chosen
    leg's own audited batch plan over the FULL corpus (a production
    serve has no eval-style self-exclusion).  Every leg the planner can
    choose is implemented; which one runs is data-dependent."""
    from ..operators.clustering import (
        _query_vectors,
        ivf_pq_build,
        ivf_pq_serve_batch,
    )
    from ..operators.similarity import (
        cosine,
        graph_beam_search_batch,
        lsh_ann_batch_bucketed,
        with_bucket_ids,
    )
    from ..sinks.artifacts import artifact_store, has_artifact
    from pyspark.sql import Window as _W

    k, nq = _PLANNED_SERVE_K, _PLANNED_SERVE_NQ
    emb = load_table(spark, sf_dir, "embeddings")
    # metadata-scale: the 4-row per-leg planner table
    chosen = next(
        r for r in serve_leg_planner(spark, sf_dir).collect() if r["chosen"]
    )
    leg, knob = chosen["leg"], int(chosen["knob_value"])
    qdf = emb.filter(F.col("vec_id") < nq)
    if leg == "graph":
        _, nodes, edges = _graph_artifacts(spark, sf_dir)
        served = graph_beam_search_batch(
            nodes, edges, qdf, k=k, beam=knob, hops=3
        ).select("query_id", "vec_id", "rn")
    elif leg == "ivf_pq":
        store = artifact_store(sf_dir)
        if not all(
            has_artifact(store, a)
            for a in ("ivfpq_codes", "ivf_centroids", "pq_codebooks")
        ):
            ivf_pq_build(emb, store, n_cells=8)
        queries = _query_vectors(emb, nq, "embedding", "vec_id", 4, 16)
        served = ivf_pq_serve_batch(
            spark, store, queries, topk=k, n_probe=knob
        ).select("query_id", "vec_id", "rn")
    elif leg == "lsh":
        served = lsh_ann_batch_bucketed(
            with_bucket_ids(emb, "embedding", knob), qdf, k=k, n_bits=knob
        ).select("query_id", "vec_id", "rn")
    else:  # exact brute force — the planner's fallback
        q = F.broadcast(
            qdf.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("__qv"),
            )
        )
        w = _W.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.col("vec_id").asc()
        )
        served = (
            emb.crossJoin(q)
            .select(
                "query_id",
                "vec_id",
                cosine("embedding", "__qv").alias("cosine"),
            )
            .where(~F.isnan("cosine"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "vec_id", "rn")
        )
    return served.select(
        F.lit(leg).alias("leg"),
        F.lit(knob).cast("int").alias("knob_value"),
        "query_id",
        "vec_id",
        F.col("rn").cast("int").alias("rn"),
    ).orderBy("query_id", "rn")


def _planned_serve_batch_sql() -> str:
    from ..operators.clustering import ivf_pq_ann_batch_sql

    k, nq = _PLANNED_SERVE_K, _PLANNED_SERVE_NQ

    def cos(x: str, y: str) -> str:
        return (
            f"{_dot_sql(x, y)} / (sqrt({_dot_sql(x, x)})"
            f" * sqrt({_dot_sql(y, y)}))"
        )

    serves: list[tuple[str, int, str]] = []
    for b in _BEAM_CURVE_WIDTHS:
        serves.append(
            (
                "graph",
                b,
                f"""(
WITH {_KNN_GRAPH_CTE},
{_graph_beam_batch_cte(hops=3, beam=b, n_queries=nq)}
SELECT query_id, vec_id, CAST(rn AS INTEGER) AS rn FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM v3) r
WHERE rn <= {k})""",
            )
        )
    for p in (1, 2, 4, 8):
        inner = ivf_pq_ann_batch_sql(n_queries=nq, topk=k, n_probe=p)
        serves.append(
            (
                "ivf_pq",
                p,
                f"(SELECT query_id, vec_id, rn FROM ({inner}) iv{p})",
            )
        )
    for nb in _LSH_CURVE_BITS:
        serves.append(
            (
                "lsh",
                nb,
                f"""(
WITH b AS (
  SELECT vec_id, embedding,
         ({_lsh_bucket_sql("embedding", nb)}) AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
      FROM b WHERE vec_id < {nq}),
s AS (
  SELECT q.query_id, b.vec_id, {cos("b.embedding", "q.qv")} AS cosine
  FROM b JOIN q ON b.bucket = q.qbucket)
SELECT query_id, vec_id, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s) r
WHERE rn <= {k})""",
            )
        )
    serves.append(
        (
            "exact",
            0,
            f"""(
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {nq}),
s AS (
  SELECT q.query_id, c.vec_id, {cos("c.embedding", "q.qv")} AS cosine
  FROM embeddings c CROSS JOIN q
  WHERE NOT isnan({cos("c.embedding", "q.qv")}))
SELECT query_id, vec_id, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s) r
WHERE rn <= {k})""",
        )
    )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT '{leg}' AS leg, CAST({knob} AS INTEGER) AS knob_value, "
        f"query_id, vec_id, rn FROM {sub} t{i}"
        for i, (leg, knob, sub) in enumerate(serves)
    )
    return f"""
WITH planner AS ({_serve_leg_planner_sql()}),
choice AS (SELECT leg, knob_value FROM planner WHERE chosen),
served AS (
  {union})
SELECT s.leg, s.knob_value, s.query_id, s.vec_id, s.rn
FROM served s
JOIN choice c ON c.leg = s.leg AND c.knob_value = s.knob_value
"""


# ---------------------------------------------------------------------------
# Maintenance planner (VERDICT r11 ask #3): serve_leg_planner's pattern
# applied to INDEX MAINTENANCE.  The three live monitors each watch one
# failure axis of the standing index stack — occupancy (stream_drift_monitor:
# did the data move between cells), codebook fit (stream_distortion_monitor:
# do the codebooks still fit the data inside each cell), encoder
# separability (stream_margin_monitor: does the embedding model still
# separate labels) — and this planner folds their censuses into ONE decision
# table: per axis the measured metric, the declared threshold, the act/hold
# verdict, the maintenance action the verdict triggers, and the cost
# evidence (rows the action touches — the re-code cost index_retrain's act
# branch actually pays).  maintenance_applied then EXECUTES the index-side
# verdict: a retrain-on-union serve when either index axis acts, the
# standing base-trained serve when both hold — decision computed, never
# pinned (the oracle enumerates both serve variants and selects by the same
# computed CASE).
#
# Threshold calibration (measured at sf0.001/0.01/0.1, round-12 notes):
# steady-state occupancy drift 16-22k ppm vs 50k threshold (hold; the
# engineered-drift fixture measures 149-170k against the same threshold —
# index_retrain's act bracket), steady-state codebook drift 1.4-6.3k u vs
# 1e6 threshold (hold; the drift fixture measures ~4.3e8), negative-margin
# rate 880-980k ppm vs 500k threshold (act — the synthetic labels are
# near-random in embedding space, i.e. the fixture SHIPS with a drifted
# encoder, so the flag axis exercises the act branch while the index axes
# exercise hold).

_MAINT_OCC_THR_PPM = 50_000
_MAINT_DIST_THR_U = 1_000_000
_MAINT_MARGIN_THR_PPM = 500_000
_MAINT_NQ = 8
_MAINT_TOPK = 10


def _metric_table(
    spark, sf_dir: str, name: str, compute, compute_session=None
) -> DataFrame:
    """Build-once/read-many metric plane (serve_leg_planner's contract):
    the component census PERSISTS as a ``metric_*`` artifact under the
    content-token key on first computation; a planner READS metric
    tables, it does not re-run the monitor per decision.  Every metric
    column is integer/string, so the parquet round-trip is value-exact.
    ``compute_session`` lets a concurrent caller compute on a session
    clone; the returned table always reads on ``spark`` (the parquet
    round-trip decouples the two)."""
    from ..sinks.artifacts import (
        artifact_store,
        has_artifact,
        load_artifact,
        save_artifact,
    )

    store = artifact_store(sf_dir)
    art = f"metric_{name}"
    if not has_artifact(store, art):
        save_artifact(
            compute(compute_session or spark, sf_dir), store, art
        )
    return load_artifact(spark, store, art)


def maintenance_planner(
    spark: SparkSession,
    sf_dir: str,
    occ_thr: int = _MAINT_OCC_THR_PPM,
    dist_thr: int = _MAINT_DIST_THR_U,
    margin_thr: int = _MAINT_MARGIN_THR_PPM,
) -> DataFrame:
    """One row per maintenance axis: (axis, metric, unit, metric_value,
    threshold, act, action, n_rows).  Inputs are the three monitors'
    own censuses (persisted as ``metric_*`` artifacts — cells/labels
    rows, metadata-scale by construction); the planner itself is three
    tiny aggregates unioned.  All-integer output, so it hash-checks.
    The threshold kwargs exist for the pytest battery to drive BOTH
    branches of every axis; the registry query runs the declared
    defaults."""
    from concurrent.futures import ThreadPoolExecutor

    from .streaming import (
        stream_distortion_monitor,
        stream_drift_monitor,
        stream_margin_monitor,
    )

    # The three monitors are INDEPENDENT pipelines (disjoint trained
    # state, separate drains) and each spends most of its wall in
    # driver-paced microbatch machinery — overlap them (guide §2.6).
    # Each leg runs on its OWN session clone: run_to_memory right-sizes
    # the state-store width through the session-global shuffle-partition
    # conf, so concurrent drains on one session would race on set/restore
    # (VERDICT r12 "what's wrong" #7); a clone gives each drain a private
    # SQLConf over the shared SparkContext.  The artifact parquet
    # round-trip (_metric_table) already decouples the result from the
    # session that computed it, so the planner reads all three tables on
    # the caller's session as before.  First call computes the monitors
    # once into metric_* artifacts; later calls read — unchanged.
    def leg(name, compute):
        def run():
            return _metric_table(
                spark, sf_dir, name, compute, compute_session=leg_session(spark)
            )

        return run

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_occ = pool.submit(leg("drift_monitor", stream_drift_monitor))
        f_dis = pool.submit(
            leg("distortion_monitor", stream_distortion_monitor)
        )
        f_mar = pool.submit(leg("margin_monitor", stream_margin_monitor))
        occ, dis, mar = f_occ.result(), f_dis.result(), f_mar.result()

    occ_row = occ.agg(
        F.lit("occupancy").alias("axis"),
        F.lit("share_drift_ppm_total").alias("metric"),
        F.lit("ppm").alias("unit"),
        F.sum("share_drift_ppm").cast("long").alias("metric_value"),
        F.lit(occ_thr).cast("long").alias("threshold"),
        (F.sum("share_drift_ppm") >= occ_thr).alias("act"),
        F.lit("rebuild_index").alias("action"),
        F.sum("n_all").cast("long").alias("n_rows"),
    )
    dis_row = dis.agg(
        F.lit("codebook").alias("axis"),
        F.lit("dist_drift_u_max").alias("metric"),
        F.lit("u").alias("unit"),
        F.max("dist_drift_u").cast("long").alias("metric_value"),
        F.lit(dist_thr).cast("long").alias("threshold"),
        (F.max("dist_drift_u") >= dist_thr).alias("act"),
        F.lit("retrain_quantizer").alias("action"),
        F.sum("n_all").cast("long").alias("n_rows"),
    )
    mar_row = mar.agg(
        F.lit("encoder").alias("axis"),
        F.lit("negative_margin_ppm").alias("metric"),
        F.lit("ppm").alias("unit"),
        F.expr("1000000 * sum(n_negative_margin) DIV sum(n_arrivals)")
        .cast("long")
        .alias("metric_value"),
        F.lit(margin_thr).cast("long").alias("threshold"),
        F.expr(
            f"1000000 * sum(n_negative_margin) DIV sum(n_arrivals) "
            f">= {margin_thr}"
        ).alias("act"),
        F.lit("flag_encoder").alias("action"),
        F.sum("n_arrivals").cast("long").alias("n_rows"),
    )
    return occ_row.unionByName(dis_row).unionByName(mar_row).orderBy("axis")


def _maintenance_planner_sql() -> str:
    from ..operators.clustering import (
        coarse_cell_drift_sql,
        pq_distortion_report_sql,
    )
    from .streaming import _stream_margin_monitor_sql

    occ = coarse_cell_drift_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )
    dis = pq_distortion_report_sql(
        table="embeddings", train_where="vec_id % 10 <> 0", n_cells=8
    )
    mar = _stream_margin_monitor_sql()
    mar_v = (
        "1000000 * CAST(sum(n_negative_margin) AS BIGINT) "
        "// CAST(sum(n_arrivals) AS BIGINT)"
    )
    return f"""
WITH occ AS ({occ}),
dis AS ({dis}),
mar AS ({mar})
SELECT 'occupancy' AS axis, 'share_drift_ppm_total' AS metric,
       'ppm' AS unit,
       CAST(sum(share_drift_ppm) AS BIGINT) AS metric_value,
       CAST({_MAINT_OCC_THR_PPM} AS BIGINT) AS threshold,
       CAST(sum(share_drift_ppm) AS BIGINT) >= {_MAINT_OCC_THR_PPM} AS act,
       'rebuild_index' AS action,
       CAST(sum(n_all) AS BIGINT) AS n_rows
FROM occ
UNION ALL
SELECT 'codebook', 'dist_drift_u_max', 'u',
       CAST(max(dist_drift_u) AS BIGINT),
       CAST({_MAINT_DIST_THR_U} AS BIGINT),
       CAST(max(dist_drift_u) AS BIGINT) >= {_MAINT_DIST_THR_U},
       'retrain_quantizer',
       CAST(sum(n_all) AS BIGINT)
FROM dis
UNION ALL
SELECT 'encoder', 'negative_margin_ppm', 'ppm',
       {mar_v},
       CAST({_MAINT_MARGIN_THR_PPM} AS BIGINT),
       {mar_v} >= {_MAINT_MARGIN_THR_PPM},
       'flag_encoder',
       CAST(sum(n_arrivals) AS BIGINT)
FROM mar
ORDER BY axis
"""


def maintenance_applied(
    spark: SparkSession,
    sf_dir: str,
    occ_thr: int = _MAINT_OCC_THR_PPM,
    dist_thr: int = _MAINT_DIST_THR_U,
    margin_thr: int = _MAINT_MARGIN_THR_PPM,
    prefix_base: str = "mnt",
) -> DataFrame:
    """The planner's index-side verdict EXECUTED (planned_serve_batch's
    census -> decision -> ACTION arc on the maintenance side): when
    either index axis acts, retrain the quantizer on the FULL corpus
    and serve from the retrained ``mntact`` triple; when both hold,
    serve from the standing base-trained ``mntbase`` triple (train on
    base, code the union — the streaming index's proven contract).  The
    encoder axis has no in-engine action (re-embedding needs the
    upstream model) — its verdict rides through as the
    ``encoder_flagged`` column.  The planner read is 3 rows
    (metadata-scale by construction); the acted-on triple is built ONCE
    per content token and every serve after that reads artifacts."""
    from ..operators.clustering import (
        _query_vectors,
        build_index_triple,
        ivf_pq_serve_batch,
    )
    from ..sinks.artifacts import artifact_store, has_artifact

    # metadata-scale: the 3-row per-axis decision table
    plan = {
        r["axis"]: r
        for r in maintenance_planner(
            spark, sf_dir, occ_thr, dist_thr, margin_thr
        ).collect()
    }
    retrain = bool(plan["occupancy"]["act"]) or bool(plan["codebook"]["act"])
    flagged = bool(plan["encoder"]["act"])

    emb = load_table(spark, sf_dir, "embeddings")
    valid = emb.where(
        F.col("embedding").isNotNull() & (F.size("embedding") >= 64)
    )
    store = artifact_store(sf_dir)
    prefix = f"{prefix_base}act" if retrain else f"{prefix_base}base"
    if not has_artifact(store, f"{prefix}_codes"):
        train = valid if retrain else valid.where(F.col("vec_id") % 10 != 0)
        build_index_triple(spark, valid, train, store, prefix, n_cells=8)
    queries = _query_vectors(valid, _MAINT_NQ, "embedding", "vec_id", 4, 16)
    serve = ivf_pq_serve_batch(
        spark, store, queries, topk=_MAINT_TOPK, n_probe=2,
        codes_name=f"{prefix}_codes",
        centroids_name=f"{prefix}_centroids",
        codebooks_name=f"{prefix}_codebooks",
    )
    return serve.select(
        "query_id", "vec_id", "cell", "adc_dist", "rn",
        F.lit(retrain).alias("retrained"),
        F.lit(flagged).alias("encoder_flagged"),
    )


def _maintenance_applied_sql() -> str:
    from ..operators.clustering import (
        ivf_pq_ann_batch_sql,
        ivf_pq_batch_trained_on_sql,
    )

    act_serve = ivf_pq_ann_batch_sql(
        table="embeddings", n_queries=_MAINT_NQ, topk=_MAINT_TOPK,
        n_cells=8, n_probe=2,
    )
    hold_serve = ivf_pq_batch_trained_on_sql(
        table="embeddings", train_where="vec_id % 10 <> 0",
        n_queries=_MAINT_NQ, topk=_MAINT_TOPK, n_cells=8, n_probe=2,
    )
    return f"""
WITH planner AS ({_maintenance_planner_sql()}),
dec AS (
  SELECT
    (SELECT bool_or(act) FROM planner
     WHERE axis IN ('occupancy', 'codebook')) AS retrained,
    (SELECT act FROM planner WHERE axis = 'encoder') AS encoder_flagged)
SELECT s.query_id, s.vec_id, s.cell, s.adc_dist, s.rn,
       d.retrained, d.encoder_flagged
FROM ({act_serve}) s, dec d WHERE d.retrained
UNION ALL
SELECT s.query_id, s.vec_id, s.cell, s.adc_dist, s.rn,
       d.retrained, d.encoder_flagged
FROM ({hold_serve}) s, dec d WHERE NOT d.retrained
"""


QUERIES = [
    QueryDef("multimodal_framesample", multimodal_framesample,
             _MULTIMODAL_FRAMESAMPLE_SQL,
             "audio frame sampling: real WAV parse -> fixed windows -> "
             "per-frame integer stats (1-row-in N-rows-out, no shuffle)"),
    QueryDef("audio_dedup", audio_dedup, _AUDIO_DEDUP_SQL,
             "audio near-dup pairs: real WAV decode -> 53-bit "
             "mean-threshold fingerprint -> the shared banded Hamming "
             "machinery; quadratic oracle proves zero misses"),
    QueryDef("multimodal_dup_census", multimodal_dup_census,
             _multimodal_dup_census_sql(),
             "cross-modality duplicate census: text/image/audio "
             "fingerprint components folded into one per-(modality, "
             "source) drop report"),
    QueryDef("char_diversity", char_diversity, _char_diversity_sql(),
             "diversity quality gate: Simpson character index + "
             "type-token ratio, exact fixed-point"),
    QueryDef("cms_heavy_hitters", cms_heavy_hitters_bigrams,
             _cms_heavy_hitters_sql(),
             "count-min sketch heavy hitters: fixed-size additive "
             "frequency sketch + overestimate audit vs exact census"),
    QueryDef("knn_join", embedding_knn_join, _KNN_JOIN_SQL,
             "exact k-NN join: top-5 cosine neighbors per query vector, "
             "one corpus pass for the whole query set"),
    QueryDef("bigram_pmi", bigram_pmi, bigram_pmi_topk_sql("documents", k=30),
             "collocations: top bigrams by fixed-point PMI lift vs "
             "unigram independence"),
    QueryDef("ann_recall", ann_recall_q, _ann_recall_sql(),
             "recall@5 of LSH ANN vs exact k-NN ground truth, per query "
             "(deterministic approximate path, fixed-point recall)"),
    QueryDef("retrieval_eval_graph", retrieval_eval_graph,
             _RETRIEVAL_EVAL_GRAPH_SQL,
             "the label-relevance metrics over the graph walk (self "
             "excluded harvest-side) — the task-eval family's fourth "
             "and final serve leg"),
    QueryDef("retrieval_eval_lsh", retrieval_eval_lsh,
             _RETRIEVAL_EVAL_LSH_SQL,
             "the label-relevance metrics over the LSH serve path "
             "(query ids excluded by a pushed bucket-table filter) — "
             "the task-eval trilogy's third leg"),
    QueryDef("retrieval_eval_ann", retrieval_eval_ann,
             _retrieval_eval_ann_sql(),
             "the label-relevance metrics over the SERVED IVF-PQ path "
             "(self excluded, re-ranked): what index pruning loss costs "
             "on the task, not just vs the exact list"),
    QueryDef("retrieval_eval", retrieval_eval, _RETRIEVAL_EVAL_SQL,
             "label-relevance ranking metrics over the exact top-10: "
             "first-relevant rank, MRR, precision@10, hit@10 in exact "
             "integer ppm — embedding-space quality, not index quality"),
    QueryDef("serve_leg_planner", serve_leg_planner,
             _serve_leg_planner_sql(),
             "the task-eval harness taken to its decision: per serve leg "
             "the cheapest knob meeting the declared recall floor + task "
             "metrics, and the planner's pick (cheapest floor-meeting "
             "leg, exact brute force as fallback)"),
    QueryDef("planned_serve_batch", planned_serve_batch,
             _planned_serve_batch_sql(),
             "the planner's decision APPLIED: serve the query batch with "
             "the chosen leg at its picked knob; oracle enumerates every "
             "knob variant and joins against the chosen row — no pinned "
             "decision"),
    QueryDef("maintenance_planner", maintenance_planner,
             _maintenance_planner_sql(),
             "the three live monitors folded into one maintenance "
             "decision table: per axis (occupancy/codebook/encoder) the "
             "measured metric vs its declared threshold, the act/hold "
             "verdict, the triggered action, and the re-code cost "
             "evidence"),
    QueryDef("maintenance_applied", maintenance_applied,
             _maintenance_applied_sql(),
             "the maintenance verdict EXECUTED: retrain-on-union serve "
             "when an index axis acts, standing base-trained serve when "
             "both hold, encoder verdict riding as a flag; oracle "
             "enumerates both serve variants and selects by the same "
             "computed decision — no pinned branch"),
    QueryDef("contrastive_triplets", contrastive_triplets,
             _CONTRASTIVE_TRIPLETS_SQL,
             "contrastive training-pair mining: per anchor the nearest "
             "same-label positive + 3 nearest different-label hard "
             "negatives, one masked exact corpus pass"),
    QueryDef("community_label_purity", community_label_purity,
             _community_purity_sql(),
             "per-community majority-label purity in exact ppm — the "
             "quality gauge for LPA communities vs ground-truth labels"),
    QueryDef("graph_beam_curve", graph_beam_curve, _graph_beam_curve_sql(),
             "beam-width tuning table for the graph-ANN walk: recall@10 "
             "+ visited-set cost per beam (1/2/4) — completes the "
             "tuning-curve trilogy across the three index legs"),
    QueryDef("knn_lpa_communities", knn_lpa_communities, _knn_lpa_sql(),
             "synchronous label-propagation communities (4 rounds, "
             "min-label ties) over the audited IVF-blocked kNN graph — "
             "density-driven clustering between CC and k-means"),
    QueryDef("lsh_nbits_curve", lsh_nbits_curve, _lsh_nbits_curve_sql(),
             "LSH n_bits tuning table: recall@5 + candidate volume per "
             "bit width (4/6/8), one masked bucketing pass serves every "
             "level — the probe-curve discipline on the LSH leg"),
    QueryDef("embedding_margin_stats", embedding_margin_stats,
             _EMBEDDING_MARGIN_STATS_SQL,
             "per-label separability margins (nearest-positive minus "
             "nearest-negative cosine, integer ppm) read off the "
             "contrastive miner — is the space trainable, which labels "
             "are entangled"),
    QueryDef("dim_truncation_recall", dim_truncation_recall,
             _dim_truncation_recall_sql(),
             "Matryoshka tuning table: recall@10 of each embedding-prefix "
             "search (8/16/32/64 dims) vs full-dim exact, one prefix-fold "
             "corpus pass for the whole curve"),
    QueryDef("ngram_topk", ngram_topk, _ngram_topk_sql(),
             "corpus-wide top-k word bigrams (one shuffle, top-k never "
             "full-sorts)"),
    QueryDef("dedup_exact", dedup_exact, _DEDUP_EXACT_SQL,
             "exact content dedup (hash-groupBy, min-id winner)"),
    QueryDef("minhash_pairs", minhash_pairs, _minhash_sql(),
             "MinHash+LSH near-dup candidates, integer-exact oracle"),
    QueryDef("simhash_fingerprint", simhash_fingerprint, _SIMHASH_SQL,
             "53-bit SimHash fingerprints"),
    QueryDef("simhash_pairs", simhash_pairs, _SIMHASH_PAIRS_SQL,
             "SimHash near-dup pairs via banded Hamming LSH (pigeonhole-"
             "minimum bands, Hamming <= 1), quadratic oracle proves zero "
             "misses"),
    QueryDef("simhash_band_stats", simhash_band_stats_q,
             _simhash_band_stats_sql(),
             "banding decision table: per-band bucket census (max bucket "
             "+ implied candidate pairs) for the 2-band production and "
             "4-band alternative simhash schemes"),
    QueryDef("semantic_decontaminate", semantic_decontaminate,
             _SEMANTIC_DECONTAMINATE_SQL,
             "embedding-space benchmark decontamination: broadcast bench "
             "slice, one corpus pass, per-doc hit count + top "
             "contaminating bench id"),
    QueryDef("dedup_recall", dedup_recall, _dedup_recall_sql(),
             "recall of the banded-LSH candidate stage vs exact gram-"
             "Jaccard ground truth — the dedup-path quality gauge",
             bench=False),
    QueryDef("fuzzy_dedup", fuzzy_dedup, _fuzzy_dedup_sql(),
             "LSH candidates -> exact Jaccard verify (scale-path dedup)"),
    QueryDef("incremental_dedup", incremental_dedup, _incremental_dedup_sql(),
             "cross-corpus minhash JOIN: new-batch near-dups of the "
             "existing corpus (batch bands broadcast, corpus streams)"),
    QueryDef("ngram_jaccard", ngram_jaccard, _NGRAM_JACCARD_SQL,
             "blocked exact 3-gram Jaccard pairs (exact baseline; "
             "quadratic in block size, excluded from bench)", bench=False),
    QueryDef("token_frequency", token_frequency, _TOKEN_FREQUENCY_SQL,
             "generator op: explode tokens -> vocabulary top-k"),
    QueryDef("llm_prep_pipeline", llm_prep_pipeline, _LLM_PREP_SQL,
             "composed corpus prep: quality + lang gate -> dedup -> tokens"),
    QueryDef("text_stats", text_stats_q, _TEXT_STATS_SQL,
             "per-doc token/quality stats"),
    QueryDef("lang_stats", lang_stats, _LANG_STATS_SQL, "per-language corpus rollup"),
    QueryDef("token_count_bpe", token_count_bpe, _TOKEN_COUNT_SQL,
             "BPE-ish regex pre-tokenizer counts"),
    QueryDef("lang_id", lang_id, _LANG_ID_SQL, "stopword-density language ID"),
    QueryDef("langid_confusion", langid_confusion, _LANGID_CONFUSION_SQL,
             "confusion matrix of the lang_id heuristic vs ground truth "
             "(+ truth-class shares in ppm) — heuristic evaluation census"),
    QueryDef("doc_fingerprint", doc_fingerprint_q, _DOC_FINGERPRINT_SQL,
             "whole-doc polynomial fingerprint"),
    QueryDef("embedding_topk", embedding_topk, _EMBEDDING_TOPK_SQL,
             "brute-force cosine top-k (bit-exact doubles)"),
    QueryDef("hybrid_search_rrf", hybrid_search_rrf,
             _hybrid_search_rrf_sql(),
             "hybrid retrieval: BM25-shaped lexical top-20 + exact "
             "cosine top-20 fused by integer-ppm Reciprocal Rank "
             "Fusion (k=60)"),
    QueryDef("mmr_rerank", mmr_rerank_q, _mmr_rerank_sql(),
             "diversity-aware MMR re-ranking over exact top-20 candidates "
             "(dyadic lambda=0.75, 5 greedy rounds, unrolled-CTE oracle)"),
    QueryDef("graph_ann_search", graph_ann_search, _GRAPH_ANN_SEARCH_SQL,
             "graph-ANN read path: deterministic beam walk over the kNN "
             "graph (entry at quantizer ids, beam 4, 3 hops, id "
             "tie-breaks) — the walk itself hash-checks"),
    QueryDef("graph_ann_from_artifacts", graph_ann_from_artifacts,
             _GRAPH_ANN_SEARCH_SQL,
             "graph-ANN served from the SAVED node+edge tables "
             "(build-once/serve-many): beam walk over loaded frames"),
    QueryDef("graph_ann_recall", graph_ann_recall, _GRAPH_ANN_RECALL_SQL,
             "recall@10 of the graph beam walk vs exact cosine over the "
             "graph node universe (the per-index quality-gauge "
             "discipline)"),
    QueryDef("graph_ann_batch", graph_ann_batch, _GRAPH_ANN_BATCH_SQL,
             "graph-ANN beam walk over a query SET: per-query windowed "
             "frontier cuts, one node probe per hop serves all queries"),
    QueryDef("graph_ann_batch_recall", graph_ann_batch_recall,
             _GRAPH_ANN_BATCH_RECALL_SQL,
             "PER-QUERY recall@10 of the batched beam walk vs exact "
             "cosine over the graph node universe"),
    QueryDef("ann_lsh_batch", ann_lsh_batch, _ANN_LSH_BATCH_SQL,
             "LSH ANN over a query SET: one bucketing pass, broadcast "
             "bucket equi-join, per-query top-10 window"),
    QueryDef("lsh_filtered_batch", lsh_filtered_batch,
             _LSH_FILTERED_BATCH_SQL,
             "filtered/hybrid LSH search: label predicate pushed into "
             "the attribute-payload bucket-table scan, zero serve-time "
             "joins, then the batched probe plan"),
    QueryDef("lsh_filtered_recall", lsh_filtered_recall,
             _LSH_FILTERED_RECALL_SQL,
             "per-query recall@10 of the filtered LSH probe vs exact "
             "cosine among the predicate's rows"),
    QueryDef("graph_filtered_batch", graph_filtered_batch,
             _GRAPH_FILTERED_BATCH_SQL,
             "filtered/hybrid graph search: predicate-blind beam walk "
             "over the attribute-payload node table, label harvest "
             "before the final top-10 — zero serve-time joins"),
    QueryDef("graph_filtered_recall", graph_filtered_recall,
             _GRAPH_FILTERED_RECALL_SQL,
             "per-query recall@10 of the filtered beam walk vs exact "
             "cosine among the predicate's nodes"),
    QueryDef("knn_graph", knn_graph, _KNN_GRAPH_SQL,
             "IVF-blocked kNN-graph build: per-node top-3 cosine edges "
             "from the bounded cell kernel + reciprocal-edge marking"),
    QueryDef("embedding_ann_ivf", embedding_ann_ivf, _EMBEDDING_IVF_SQL,
             "ANN via IVF coarse quantizer (probe nearest cells)"),
    QueryDef("multimodal_features", multimodal_features, _MULTIMODAL_FEATURES_SQL,
             "Arrow-batched binary payload feature extraction"),
    QueryDef("embedding_ann_lsh", embedding_ann_lsh, _EMBEDDING_LSH_SQL,
             "hyperplane-LSH approximate top-k (scale path; rows-only)"),
    QueryDef("embedding_near_dup", embedding_near_dup, _EMBEDDING_NEAR_DUP_SQL,
             "embedding-cosine near-dup pairs above threshold"),
    QueryDef("semdedup_threshold_curve", semdedup_threshold_curve,
             _semdedup_threshold_curve_sql(),
             "the dedup-aggressiveness tuning table: one pair pass, "
             "every threshold's pair count / dropped docs / drop ppm "
             "from the same frame"),
    QueryDef("embedding_label_top_pairs", embedding_label_top_pairs, _EMBEDDING_PAIRS_SQL,
             "top-3 cosine pairs per label block"),
    QueryDef("multimodal_meta", multimodal_meta, _MULTIMODAL_META_SQL,
             "binary payload column + digest plumbing"),
    QueryDef("multimodal_tiles", multimodal_tiles, _MULTIMODAL_TILES_SQL,
             "ViT patchify: 4x4 tiling of real PGM payloads in the Arrow "
             "kernel, per-patch integer stats, decoder-exact oracle"),
    QueryDef("multimodal_resize", multimodal_resize, _MULTIMODAL_RESIZE_SQL,
             "real PGM nearest-neighbor resize, decoded and re-verified"),
    QueryDef("repetition_stats", repetition_stats, _REPETITION_SQL,
             "Gopher-style repetition filters: top-word / top-bigram / "
             "dup-bigram fractions"),
    QueryDef("tfidf_terms", tfidf_terms, _TFIDF_SQL,
             "top-3 characteristic terms per doc by tf-idf (linear "
             "smoothed idf, rank-equivalent to log)"),
    QueryDef("trigram_lm", trigram_lm, _TRIGRAM_LM_SQL,
             "corpus-trained char-trigram LM fluency score per doc "
             "(mean conditional probability)"),
    QueryDef("lm_score_from_artifacts", lm_score_from_artifacts,
             _TRIGRAM_LM_SQL,
             "trigram-LM scoring against the SAVED model table — the "
             "score-a-new-crawl-against-a-fixed-LM serving shape"),
    QueryDef("pq_recall", pq_recall, _PQ_RECALL_SQL,
             "recall@10 of the PQ ADC path vs exact L2 ground truth"),
    QueryDef("ivf_pq_recall", ivf_pq_recall, _ivf_pq_recall_sql(),
             "recall@10 of the composed IVF+PQ read path vs exact L2 — "
             "the doubly-approximate plan's quality gauge, hash-exact"),
    QueryDef("ivf_pq", ivf_pq, _ivf_pq_sql(),
             "composed IVF+PQ ANN (FAISS-IVFPQ shape): coarse cells prune "
             "the scan, ADC ranks from codes — hash-checkable end to end"),
    QueryDef("ivf_pq_from_artifacts", ivf_pq_from_artifacts, _ivf_pq_sql(),
             "IVF-PQ served from the SAVED index (build-once/serve-many): "
             "load codes+centroids+codebooks, probe + ADC — load-then-serve "
             "hash-equals train-then-serve"),
    QueryDef("ivf_pq_probe_curve", ivf_pq_probe_curve,
             _ivf_pq_probe_curve_sql(),
             "the n_probe tuning curve: per probe budget, mean recall@10 "
             "in exact ppm + candidate volume scanned — the speed/recall "
             "table that sets n_probe"),
    QueryDef("ivf_pq_batch", ivf_pq_batch, _ivf_pq_batch_sql(),
             "IVF-PQ serving a query SET from the SAVED index: one codes "
             "scan, broadcast (query, cell, LUT) probes, per-query top-10"),
    QueryDef("ann_filtered_batch", ann_filtered_batch,
             _ann_filtered_batch_sql(),
             "filtered/hybrid vector search: metadata predicate pushed "
             "into the attribute-payload codes scan, then the batched "
             "ADC plan"),
    QueryDef("ann_filtered_recall", ann_filtered_recall,
             _ann_filtered_recall_sql(),
             "per-query recall@10 of the filtered ADC path vs exact L2 "
             "among the predicate's rows — cell pruning loses more "
             "under a filter, this measures it"),
    QueryDef("index_drift_report", index_drift_report,
             _index_drift_report_sql(),
             "index-staleness gauge: per-cell occupancy drift of the "
             "base-trained quantizer in exact ppm — the data-driven "
             "retrain trigger"),
    QueryDef("index_distortion_report", index_distortion_report,
             _index_distortion_report_sql(),
             "the retrain trigger's second axis: per-cell mean PQ "
             "reconstruction error of the base-trained codebooks, base "
             "vs full corpus, integer micro-units — catches staleness "
             "occupancy drift cannot see"),
    QueryDef("index_retrain", index_retrain_q, _index_retrain_sql(),
             "drift->retrain ACTION loop, retrain branch: measured drift "
             "exceeds the threshold, so the quantizer retrains on the "
             "current corpus, re-codes, swaps via committed-next-then-"
             "swap, and serves from the retrained index"),
    QueryDef("index_retrain_hold", index_retrain_hold,
             _index_retrain_hold_sql(),
             "drift->retrain ACTION loop, hold branch: drift under the "
             "threshold leaves the store byte-untouched and serves the "
             "standing base-trained index"),
    QueryDef("pq_ann", pq_ann, _PQ_ANN_SQL,
             "PQ asymmetric-distance ANN top-k: codes + lookup tables, "
             "no per-row vector math"),
    QueryDef("pq_codes", pq_codes, _PQ_CODES_SQL,
             "product quantization: per-subspace Lloyd codebooks, packed "
             "codes + reconstruction-error census"),
    QueryDef("bpe_merges", bpe_merges, _BPE_MERGES_SQL,
             "BPE tokenizer training on the word census (iterative merge "
             "rounds; deterministic, oracle pins the per-fixture merge "
             "table generated from the pytest-verified trainer)"),
    QueryDef("lm_quality_filter", lm_quality_filter,
             _LM_QUALITY_FILTER_SQL,
             "CCNet-style head/middle/tail split by trigram-LM score via "
             "distributed_ntile (no single-partition sort)"),
    QueryDef("tokenizer_fertility", tokenizer_fertility,
             _TOKENIZER_FERTILITY_SQL,
             "per-language tokens-per-word fertility of the trained BPE "
             "tokenizer (multilingual fairness census, pinned oracle)"),
    QueryDef("bpe_encode", bpe_encode, _BPE_ENCODE_SQL,
             "BPE apply path: distributed document encoding to token ids "
             "(tokenizer-as-closure Arrow kernel, zero-shuffle stage), "
             "length-bucket compression census with id fingerprints"),
    QueryDef("bpe_encode_from_artifacts", bpe_encode_from_artifacts,
             _BPE_ENCODE_SQL,
             "BPE encoding with a SAVED tokenizer (merges+vocab tables): "
             "the saved tokenizer reproduces every token id"),
    QueryDef("jaccard_pairs", jaccard_pairs, _JACCARD_PAIRS_SQL,
             "exact Jaccard set-similarity self-join via AllPairs prefix "
             "filtering (quadratic-definition oracle)"),
    QueryDef("image_phash", image_phash, _IMAGE_PHASH_SQL,
             "perceptual average-hash image dedup: banded Hamming LSH "
             "pairs, quadratic-definition oracle"),
    QueryDef("image_dedup", image_dedup, _IMAGE_DEDUP_SQL,
             "phash pipeline to its decision: near-dup components -> "
             "canonical keep-list (recursive-CTE reachability oracle)"),
    QueryDef("embedding_scatter", embedding_scatter_q,
             embedding_scatter_sql(n_dims=16),
             "scatter (covariance) matrix over a dim slice: one wide "
             "codegen aggregate, exact integer moments"),
    QueryDef("embedding_pca", embedding_pca, _embedding_pca_sql(),
             "top principal direction by exact-integer power iteration "
             "on the scatter matrix — hash-checkable iterative linear "
             "algebra"),
    QueryDef("embedding_centroids", embedding_centroids, _EMBEDDING_CENTROIDS_SQL,
             "per-label centroid norm + inertia (k-means-style cluster "
             "tightness stats)"),
    QueryDef("source_dup_report", source_dup_report,
             _source_dup_report_sql(),
             "per-source duplication census: keep-list drop rate in ppm — "
             "the source-weighting decision dedup feeds"),
    QueryDef("dedup_components_star", dedup_components_star,
             _dedup_components_sql(),
             "large-star/small-star CC (O(log n) rounds, long-chain-safe) "
             "— value-gated to the same oracle as min-label CC"),
    QueryDef("dedup_components", dedup_components, _dedup_components_sql(),
             "near-dup pairs -> connected components (min-label "
             "propagation; canonical doc = min id)"),
    QueryDef("dedup_canonical", dedup_canonical, _dedup_canonical_sql(),
             "components -> keep-list: canonical doc per cluster "
             "(largest variant, id tiebreak)"),
    QueryDef("minhash_band_stats", minhash_band_stats, _minhash_band_stats_sql(),
             "LSH banding diagnostics: bucket skew + implied candidate "
             "pairs per band"),
]
