"""Round-6 operator batteries: span removal geometry, graph-ANN walk
semantics, streaming incremental dedup's multi-microbatch parity."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

import catalyst_reference as ref


# --- dup_span_removal -------------------------------------------------------

def _removal(spark, rows, span_len=3):
    from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
        dup_span_removal,
    )

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    return {
        r["doc_id"]: r
        for r in dup_span_removal(df, span_len=span_len).collect()
    }


def test_span_removal_cross_doc(spark):
    # docs 1 and 2 share the window "a b c"; doc 3 shares nothing
    out = _removal(
        spark,
        [(1, "a b c x y"), (2, "z a b c"), (3, "p q r s")],
    )
    # doc 1: window (a b c) at pos 0 duplicated -> words 0..2 removed
    assert out[1]["cleaned_text"] == "x y"
    assert out[1]["n_words"] == 5 and out[1]["n_removed_words"] == 3
    assert out[1]["removed_ppm"] == 600000
    # doc 2: window at pos 1 -> words 1..3 removed
    assert out[2]["cleaned_text"] == "z"
    # doc 3 untouched
    assert out[3]["cleaned_text"] == "p q r s"
    assert out[3]["n_removed_words"] == 0


def test_span_removal_within_doc_multiplicity(spark):
    # the SAME window twice within ONE doc counts as duplicated
    # (ExactSubstr semantics — stronger than the census's >=2 docs)
    out = _removal(spark, [(1, "a b c q a b c"), (2, "u v w")])
    assert out[1]["cleaned_text"] == "q"
    assert out[1]["n_removed_words"] == 6


def test_span_removal_full_doc_and_overlap(spark):
    # doc entirely covered -> empty cleaned text, ppm exactly 1e6;
    # overlapping duplicated windows union their coverage
    out = _removal(
        spark,
        [(1, "a b c d"), (2, "a b c d"), (3, "m n o")],
    )
    assert out[1]["cleaned_text"] == "" and out[1]["removed_ppm"] == 1000000
    assert out[2]["cleaned_text"] == ""
    # doc shorter than the span contributes no windows and keeps all words
    assert out[3]["cleaned_text"] == "m n o"


# --- graph_beam_search ------------------------------------------------------

def test_graph_beam_search_walks_to_query(spark, sf_dir):
    """vec 0 is both the query and an entry point: the walk must rank it
    first with cosine exactly 1.0, and results must be beam-monotone
    (top-k of visited, sorted by the total order)."""
    from cassandra_cql_streaming_db_migrator_spark.queries.llm import (
        graph_ann_search,
    )

    rows = graph_ann_search(spark, sf_dir).collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["cosine"] == 1.0
    key = [(-r["cosine"], r["vec_id"]) for r in rows]
    assert key == sorted(key)
    assert len(rows) == 10
    assert len({r["vec_id"] for r in rows}) == 10  # visited-set dedup


def test_graph_beam_search_more_hops_no_worse(spark, sf_dir):
    """Recall is monotone in hops: the visited set only grows, so the
    top-10 cosine sum with 4 hops >= with 1 hop (the beam gauge's core
    sanity)."""
    from cassandra_cql_streaming_db_migrator_spark.queries.llm import (
        _graph_nodes_and_edges,
    )
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        graph_beam_search,
    )

    emb, nodes, edges = _graph_nodes_and_edges(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0)

    def total(hops):
        rows = graph_beam_search(
            nodes, edges, query, k=10, beam=4, hops=hops
        ).collect()
        return sum(r["cosine"] for r in rows)

    assert total(4) >= total(1) - 1e-12


# --- streaming incremental dedup -------------------------------------------

def test_streaming_incremental_dedup_multibatch_parity(spark, sf_dir):
    """The drained multi-microbatch stream equals the batch minhash_join
    row-for-row, and the run genuinely spans >1 microbatch (chunked
    source, maxFilesPerTrigger=1)."""
    from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
        minhash_join,
    )
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
        load_table,
    )
    from cassandra_cql_streaming_db_migrator_spark.streaming import stream as st

    docs = load_table(spark, sf_dir, "documents")
    arrivals = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)

    n_batches = 0
    orig = st.streaming_incremental_dedup

    # count microbatches via the chunked reader: 4 chunks -> 4 triggers
    chunked = st.read_documents_stream_chunked(spark, arrivals, 4)
    probe_counts = []

    def count_batch(mb, eid):
        probe_counts.append(mb.count())

    q = (
        chunked.writeStream.foreachBatch(count_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert len([c for c in probe_counts if c]) >= 2

    got = orig(spark, arrivals, corpus).collect()
    want = minhash_join(arrivals, corpus, "text", "doc_id").collect()

    def key(r):
        return (
            r["doc_id_new"],
            r["doc_id_old"],
            r["est_jaccard"],
            r["jaccard"],
        )

    assert sorted(map(key, got)) == sorted(map(key, want))


# --- mmr_rerank --------------------------------------------------------------

def test_mmr_rank1_is_top_relevance_and_lambda1_degenerates(spark, sf_dir):
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        mmr_rerank,
    )
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    out = mmr_rerank(emb, query, k=5, k_candidates=20, lam=0.75).collect()
    exact = ref.cosine_topk(emb, query, 5).collect()
    # rank 1 = most relevant regardless of lambda; score = lam * rel
    assert out[0]["vec_id"] == exact[0]["vec_id"]
    assert out[0]["mmr_score"] == 0.75 * out[0]["relevance"]
    # lambda = 1 removes the diversity penalty -> exact top-k order
    pure = mmr_rerank(emb, query, k=5, k_candidates=20, lam=1.0).collect()
    assert [r["vec_id"] for r in pure] == [r["vec_id"] for r in exact]
    # ranks are 1..5, selections unique and drawn from the candidates
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    cand_ids = {r["vec_id"] for r in ref.cosine_topk(emb, query, 20).collect()}
    assert {r["vec_id"] for r in out} <= cand_ids
    assert len({r["vec_id"] for r in out}) == 5


def test_mmr_diversity_penalty_changes_selection(spark, sf_dir):
    """With a strong diversity weight the selection must diverge from the
    pure-relevance order on the fixture (otherwise the operator is a
    no-op and the test would pass vacuously)."""
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        mmr_rerank,
    )
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    diverse = mmr_rerank(emb, query, k=5, k_candidates=20, lam=0.25).collect()
    exact = ref.cosine_topk(emb, query, 5).collect()
    assert [r["vec_id"] for r in diverse] != [r["vec_id"] for r in exact]


# --- bucketed_join ------------------------------------------------------------

def test_bucketed_join_plan_is_exchange_free_on_the_join(spark, sf_dir):
    """The query-level plan contract.  At fixture scale Catalyst
    broadcasts the small side (also shuffle-free — strictly better);
    with broadcast disabled the plan MUST be the bucket merge: a
    SortMergeJoin with no exchange between the bucketed scans and the
    join, leaving the per-priority aggregate's exchange as the plan's
    only shuffle."""
    import io
    import re
    from contextlib import redirect_stdout

    from cassandra_cql_streaming_db_migrator_spark.queries.analytics import (
        bucketed_join,
    )

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    plan = plan_of(bucketed_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(bucketed_join(spark, sf_dir))
        assert "SortMergeJoin" in plan, plan
        # the join sits exchange-free over the scans: the join keys
        # never shuffle — that IS the bucket contract
        assert not re.search(
            r"Exchange hashpartitioning\(o_orderkey", plan
        ), plan
        assert not re.search(
            r"Exchange hashpartitioning\(l_orderkey", plan
        ), plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_span_removal_merged_interval_stats(spark):
    # (VERDICT r07 ask #7) maximal MERGED spans: overlapping duplicated
    # windows fold into one run; disjoint runs count separately.
    out = _removal(
        spark,
        [
            # "a b c" (pos 0) and "b c d" (pos 1) both duplicated via doc
            # 2: they overlap -> ONE merged span of length 4 covering
            # words 0..3; "x y z" (pos 5) duplicated via doc 3 -> a
            # second disjoint span of length 3
            (1, "a b c d q x y z"),
            (2, "a b c d"),
            (3, "x y z"),
            (4, "m n o p"),
        ],
    )
    assert out[1]["n_spans"] == 2
    assert out[1]["max_span_len"] == 4
    assert out[1]["n_removed_words"] == 7  # 4 + 3
    # fully-covered doc: one span spanning the whole doc
    assert out[2]["n_spans"] == 1 and out[2]["max_span_len"] == 4
    # untouched doc: zeroes, not NULLs
    assert out[4]["n_spans"] == 0 and out[4]["max_span_len"] == 0


def test_span_length_histogram_matches_removal_stats(spark):
    from pyspark.sql import Row

    from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
        dup_span_length_histogram,
        dup_span_removal,
    )

    rows = [
        Row(doc_id=1, text="a b c d q x y z"),
        Row(doc_id=2, text="a b c d"),
        Row(doc_id=3, text="x y z"),
        Row(doc_id=4, text="m n o p"),
    ]
    df = spark.createDataFrame(rows)
    hist = {
        r["span_words"]: r["n_spans"]
        for r in dup_span_length_histogram(df, span_len=3).collect()
    }
    # spans: doc1 -> lengths 4 and 3; doc2 -> 4; doc3 -> 3
    assert hist == {3: 2, 4: 2}
    # cross-check: the histogram's span count equals the sum of the
    # removal census's per-doc n_spans (same geometry, two plans)
    total = sum(
        r["n_spans"]
        for r in dup_span_removal(df, span_len=3).collect()
    )
    assert total == sum(hist.values())
