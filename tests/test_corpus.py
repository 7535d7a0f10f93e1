"""Corpus-governance operators (operators/corpus.py): decontamination,
deterministic split/mixing, normalize+redact+quality, sequence packing."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
    decontaminate,
    domain_mix_keep,
    normalize_text,
    pack_sequences,
    quality_keep,
    quality_metrics,
    redact_pii,
    split_column,
    word_ngrams,
)

import catalyst_reference as ref


class TestWordNgrams:
    def test_basic_and_short_text_guard(self, spark):
        df = spark.createDataFrame(
            [("a b c d",), ("a b",), ("",)], "text string"
        )
        got = [r[0] for r in df.select(word_ngrams(F.col("text"), 3).alias("g")).collect()]
        assert got[0] == ["a b c", "b c d"]
        assert got[1] == []  # fewer words than n -> empty, not a descending sequence
        assert got[2] == []


class TestDecontaminate:
    def test_overlap_counts_distinct_grams(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps"),   # shares 'the quick brown'
                (2, "totally unrelated words here"),
                (3, "the quick brown fox sleeps"),  # shares 2 benchmark grams
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox runs far")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["n_shared_ngrams"]
            for r in decontaminate(corpus, bench, ngram_len=3).collect()
        }
        # doc 1: 'the quick brown', 'quick brown fox' -> 2; doc 3 same 2
        assert out == {1: 2, 3: 2}

    def test_arrow_kernel_matches_catalyst(self, spark, sf_dir):
        from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") % 20 == 0)
        corpus = docs.filter(F.col("doc_id") % 20 != 0)
        fast = {
            r["doc_id"]: r["n_shared_ngrams"]
            for r in decontaminate(corpus, bench).collect()
        }
        exact = {
            r["doc_id"]: r["n_shared_ngrams"]
            for r in ref.decontaminate_catalyst(corpus, bench).collect()
        }
        assert fast == exact


class TestSplitAndMix:
    def test_split_deterministic_and_complete(self, spark):
        df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
        out = df.select("doc_id", split_column(F.col("doc_id")).alias("s"))
        counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
        assert set(counts) == {"train", "val", "test"}
        # hash-uniform-ish: train ~80%
        assert 700 < counts["train"] < 900
        # rerun identical (pure function of id)
        again = {r["doc_id"]: r["s"] for r in out.collect()}
        assert all(again[r["doc_id"]] == r["s"] for r in out.collect())

    def test_domain_mix_rates(self, spark):
        rows = [(i, "keep_all" if i % 2 == 0 else "drop_all") for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        kept = df.select(
            "source",
            domain_mix_keep(
                F.col("doc_id"), F.col("source"), {"keep_all": 1.0, "drop_all": 0.0}
            ).alias("k"),
        )
        agg = {r["source"]: r["n"] for r in kept.filter("k").groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert agg == {"keep_all": 200}


class TestGovernance:
    def test_redact_and_normalize(self, spark):
        df = spark.createDataFrame(
            [("Mail Bob.Smith+x@corp.example.org  or  10.1.2.3   now",)],
            "text string",
        )
        got = df.select(
            normalize_text(redact_pii(F.col("text"))).alias("t")
        ).collect()[0]["t"]
        assert got == "mail <email> or <ip> now"

    def test_quality_gate(self, spark):
        good = "the sturdy cargo ship crossed the narrow channel before dawn light"
        bad = "spam spam spam spam spam spam spam spam spam spam"
        df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, text string")
        m = df.select("doc_id", *quality_metrics(F.col("text")))
        out = m.withColumn(
            "keep",
            quality_keep(
                F.col("n_words"), F.col("mean_word_len"),
                F.col("frac_unique_words"), F.col("symbol_ratio"),
            ),
        )
        got = {r["doc_id"]: r["keep"] for r in out.collect()}
        assert got[1] is True
        assert got[2] is False  # frac_unique_words = 0.1 < 0.2


class TestSequencePack:
    def test_chunk_assignment_with_straddle(self, spark):
        # one partition, budget 10; token counts 4,4,4 -> third doc STARTS at
        # offset 8 (chunk 0) and straddles into chunk 1: chunk0 has 3 docs.
        df = spark.createDataFrame(
            [(1, 4), (2, 4), (3, 4), (4, 4)], "doc_id long, toks int"
        )
        out = pack_sequences(
            df, F.col("toks"), F.lit(0), "doc_id", budget=10
        ).collect()
        by_chunk = {r["chunk_id"]: (r["n_docs"], r["chunk_tokens"]) for r in out}
        assert by_chunk == {0: (3, 12), 1: (1, 4)}

    def test_partitions_pack_independently(self, spark):
        df = spark.createDataFrame(
            [(i, 100) for i in range(8)], "doc_id long, toks int"
        )
        out = pack_sequences(
            df, F.col("toks"), F.col("doc_id") % 2, "doc_id", budget=200
        ).collect()
        # each partition: 4 docs of 100 -> chunks 0 (2 docs) and 1 (2 docs)
        assert len(out) == 4
        assert all(r["n_docs"] == 2 and r["chunk_tokens"] == 200 for r in out)


class TestSequencePackFFD:
    def test_no_chunk_exceeds_budget(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            pack_sequences_ffd,
        )
        rows = [(i, (i * 37) % 200 + 1) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, toks int")
        out = pack_sequences_ffd(
            df, F.col("toks"), F.col("doc_id") % 4, "doc_id", budget=256
        ).collect()
        assert all(r["chunk_tokens"] <= 256 for r in out)
        assert sum(r["chunk_tokens"] for r in out) == sum(t for _, t in rows)

    def test_oversize_doc_gets_own_chunk_and_ffd_packs_tighter(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            pack_sequences_ffd,
        )
        df = spark.createDataFrame(
            [(1, 300), (2, 60), (3, 50), (4, 40), (5, 50)],
            "doc_id long, toks int",
        )
        out = pack_sequences_ffd(
            df, F.col("toks"), F.lit(0), "doc_id", budget=100
        ).collect()
        oversize = [r for r in out if r["chunk_tokens"] == 300]
        assert len(oversize) == 1 and oversize[0]["n_docs"] == 1
        # remaining 200 tokens fit in exactly two 100-token chunks (FFD:
        # 60+40, 50+50) — greedy-in-id-order would have needed three
        rest = sorted(r["chunk_tokens"] for r in out if r["chunk_tokens"] != 300)
        assert rest == [100, 100]


class TestReviewRegressions:
    def test_null_text_skipped_not_crashed(self, spark):
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, None)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox runs")], "doc_id long, text string"
        )
        fast = sorted(map(tuple, decontaminate(corpus, bench, ngram_len=3).collect()))
        exact = sorted(map(tuple, ref.decontaminate_catalyst(corpus, bench, ngram_len=3).collect()))
        assert fast == exact == [(1, 2)]

    def test_empty_token_gram_structural_collision_gone(self):
        # poly concat property: with gram base == word base, ('x','','ab')
        # and ('x','a','b') collide on fold 1; distinct bases break it
        from cassandra_cql_streaming_db_migrator_spark.functions.fast_hash import (
            word_ngram_keys,
        )
        d, k = word_ngram_keys(["x  ab", "x a b"], 3)  # double space -> empty token
        assert set(k[d == 0]).isdisjoint(set(k[d == 1]))


class TestQuantize:
    def test_kernel_matches_catalyst_bitwise(self, spark, sf_dir):
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            quantize_embeddings,
        )
        from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        fast = {r["vec_id"]: (r["scale"], r["max_abs_err"], r["mse"])
                for r in quantize_embeddings(emb).collect()}
        slow = {r["vec_id"]: (r["scale"], r["max_abs_err"], r["mse"])
                for r in ref.quantize_embeddings_catalyst(emb).collect()}
        assert fast == slow  # exact double equality, no tolerance

    def test_null_and_zero_vectors_match_catalyst(self, spark):
        from pyspark.sql import types as T
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            quantize_embeddings,
        )

        schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ])
        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25]), (2, None), (3, [0.0, 0.0, 0.0])], schema
        )
        fast = {r["vec_id"]: (r["scale"], r["max_abs_err"], r["mse"])
                for r in quantize_embeddings(df).collect()}
        slow = {r["vec_id"]: (r["scale"], r["max_abs_err"], r["mse"])
                for r in ref.quantize_embeddings_catalyst(df).collect()}
        assert fast == slow
        assert fast[2] == (None, None, None)
        assert fast[3] == (0.0, 0.0, 0.0)

    def test_string_id_column_supported(self, spark):
        from pyspark.sql import types as T
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            quantize_embeddings,
        )

        schema = T.StructType([
            T.StructField("name", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ])
        df = spark.createDataFrame([("a", [1.0, 2.0])], schema)
        out = quantize_embeddings(df, id_col="name").collect()
        assert out[0]["name"] == "a"


class TestMixtureAndHistogram:
    def test_mixture_weights_sqrt_scaling(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import mixture_weights

        # curated is 1/100th the size of crawl -> sqrt scaling gives it
        # 1/10th the weight (not 1/100th as proportional sampling would)
        df = spark.sql(
            "SELECT * FROM VALUES ('crawl', 1000000), ('curated', 10000) "
            "AS t(source, n_chars)"
        )
        rows = {r["source"]: r for r in mixture_weights(df).collect()}
        assert abs(rows["crawl"]["weight"] + rows["curated"]["weight"] - 1.0) < 1e-6
        ratio = rows["curated"]["weight"] / rows["crawl"]["weight"]
        assert abs(ratio - 0.1) < 1e-3
        assert rows["crawl"]["sum_size"] == 1000000 and rows["crawl"]["n_docs"] == 1

    def test_length_histogram_buckets_and_overflow_clamp(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import length_histogram

        df = spark.sql(
            "SELECT * FROM VALUES (0), (99), (100), (250), (5000) AS t(n_chars)"
        )
        rows = {r["bucket"]: r for r in length_histogram(df).collect()}
        assert rows[0]["n_docs"] == 2 and rows[0]["min_size"] == 0 and rows[0]["max_size"] == 99
        assert rows[1]["n_docs"] == 1
        assert rows[2]["n_docs"] == 1
        assert rows[19]["n_docs"] == 1 and rows[19]["sum_size"] == 5000  # clamped


class TestRepetitionAndTfidf:
    def test_repetition_signals_known_doc(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import repetition_signals

        df = spark.sql(
            "SELECT * FROM VALUES (1, 'a b a b c'), (2, 'solo') AS t(doc_id, text)"
        )
        rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        r1 = rows[1]
        # tokens: a,b,a,b,c -> top word 'a' (or 'b') = 2/5
        assert r1["n_tokens"] == 5 and abs(r1["top_word_frac"] - 0.4) < 1e-9
        # bigrams: 'a b','b a','a b','b c' -> top 'a b' 2/4; dups 2/4
        assert abs(r1["top_bigram_frac"] - 0.5) < 1e-9
        assert abs(r1["dup_bigram_frac"] - 0.5) < 1e-9
        # single-token doc: no bigrams, fractions defined as 0
        r2 = rows[2]
        assert r2["n_tokens"] == 1 and r2["top_bigram_frac"] == 0.0
        assert r2["dup_bigram_frac"] == 0.0

    def test_repetition_kernel_matches_catalyst_twin(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            repetition_signals,
        )

        df = spark.sql(
            "SELECT * FROM VALUES "
            "(1, 'a b a b c'), (2, 'solo'), (3, 'x x x x'), (4, 'p q r s p q') "
            "AS t(doc_id, text)"
        )
        fast = {tuple(r) for r in repetition_signals(df).collect()}
        slow = {tuple(r) for r in ref.repetition_signals_catalyst(df).collect()}
        assert fast == slow

    def test_tfidf_ranks_distinctive_terms_first(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import tfidf_top_terms

        # 'rare' appears only in doc 1; 'common' in all three docs
        df = spark.sql(
            "SELECT * FROM VALUES "
            "(1, 'common rare rare'), (2, 'common x'), (3, 'common y') "
            "AS t(doc_id, text)"
        )
        out = tfidf_top_terms(df, k=2).collect()
        top = {r["doc_id"]: r["term"] for r in out if r["term_rank"] == 1}
        assert top[1] == "rare"
        ranks = [r["term_rank"] for r in out if r["doc_id"] == 1]
        assert sorted(ranks) == [1, 2]


class TestTrigramLM:
    def test_matches_independent_reference(self, spark):
        import math
        from collections import Counter
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import trigram_lm_score

        # doc 4 shares the common 'the'/'he '/'e ?' prefixes but continues
        # them atypically ('e z' where the corpus has 'e c'/'e d')
        texts = {1: "the cat sat", 2: "the cat ran", 3: "the dog sat", 4: "the zog zat"}
        df = spark.sql(
            "SELECT * FROM VALUES "
            + ", ".join(f"({k}, '{v}')" for k, v in texts.items())
            + " AS t(doc_id, text)"
        )
        # independent reference model
        c3: Counter = Counter()
        for t in texts.values():
            c3.update(t[i : i + 3] for i in range(len(t) - 2))
        c2: Counter = Counter()
        for tri, n in c3.items():
            c2[tri[:2]] += n
        expect = {}
        for k, t in texts.items():
            tris = [t[i : i + 3] for i in range(len(t) - 2)]
            s = sum(c3[x] / c2[x[:2]] for x in tris)
            expect[k] = (len(tris), round(s / len(tris), 6))
        got = {
            r["doc_id"]: (r["n_trigrams"], r["mean_tri_prob"])
            for r in trigram_lm_score(df).collect()
        }
        assert got.keys() == expect.keys()
        for k in expect:
            assert got[k][0] == expect[k][0]
            assert math.isclose(got[k][1], expect[k][1], abs_tol=2e-6)
        # the corpus-atypical doc scores strictly below the typical docs
        assert got[4][1] < min(got[k][1] for k in (1, 2, 3))

    def test_non_ascii_corpus_matches_reference_vectorized(self, spark):
        """The full LM on a non-ASCII corpus slice (CJK, combining accents,
        astral emoji) must match the independent per-codepoint reference —
        and the kernel may not fall back to per-character Python (the old
        map(ord) path) to get there."""
        import inspect
        import math
        import re as _re
        from collections import Counter

        from cassandra_cql_streaming_db_migrator_spark.operators import textops

        texts = {
            1: "das Ubermass: schone Worter uber Mass und Masse".replace(
                "o", "ö"
            ).replace("U", "Ü"),
            2: "日本語の文字列で三文字組を数える",
            3: "日本語の文字列で頻度を数える",
            4: "mix: 日本語 and ascii and 😀😀😀 emoji",
        }
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], "doc_id long, text string"
        )
        c3: Counter = Counter()
        for t in texts.values():
            c3.update(t[i : i + 3] for i in range(len(t) - 2))
        c2: Counter = Counter()
        for tri, n in c3.items():
            c2[tri[:2]] += n
        expect = {}
        for k, t in texts.items():
            tris = [t[i : i + 3] for i in range(len(t) - 2)]
            s = sum(c3[x] / c2[x[:2]] for x in tris)
            expect[k] = (len(tris), round(s / len(tris), 6))
        got = {
            r["doc_id"]: (r["n_trigrams"], r["mean_tri_prob"])
            for r in textops.trigram_lm_score(df).collect()
        }
        assert got.keys() == expect.keys()
        for k in expect:
            assert got[k][0] == expect[k][0]
            assert math.isclose(got[k][1], expect[k][1], abs_tol=2e-6)

        # vectorization guard: no per-character Python in the kernel
        src = inspect.getsource(textops.doc_trigram_counts)
        assert not _re.search(r"map\(ord|fromiter", src), src


class TestLabelCentroids:
    def test_matches_independent_reference(self, spark):
        import math
        import numpy as np
        from pyspark.sql import types as T
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            label_centroid_stats,
        )

        rng = np.random.default_rng(7)
        rows = [
            (i, [float(np.float32(x)) for x in rng.normal(size=4)], i % 2)
            for i in range(20)
        ]
        schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ])
        df = spark.createDataFrame(rows, schema)
        got = {r["label"]: r for r in label_centroid_stats(df).collect()}
        for lab in (0, 1):
            members = np.array([v for _, v, l in rows if l == lab], dtype=np.float64)
            cent = np.floor(members * 1e10 + 0.5).sum(axis=0) / len(members) / 1e10
            sq = ((members - cent) ** 2).sum(axis=1)
            mean_sq = np.floor(sq * 1e10 + 0.5).sum() / len(members) / 1e10
            r = got[lab]
            assert r["n_vecs"] == len(members)
            assert math.isclose(r["centroid_norm"], float(np.sqrt((cent * cent).sum())), rel_tol=1e-9)
            assert math.isclose(r["mean_sq_dist"], float(mean_sq), rel_tol=1e-9)

    def test_null_embedding_excluded(self, spark):
        from pyspark.sql import types as T
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            label_centroid_stats,
        )

        schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ])
        df = spark.createDataFrame(
            [(1, [1.0, 0.0], 0), (2, None, 0), (3, [0.0, 1.0], 0)], schema
        )
        r = label_centroid_stats(df).collect()[0]
        assert r["n_vecs"] == 2


class TestConnectedComponents:
    def test_chain_and_separate_pair(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
            connected_components,
        )

        # chain 1-2-3-4 (diameter 3, needs multiple propagation rounds)
        # plus the separate pair 10-11
        df = spark.sql(
            "SELECT * FROM VALUES (1,2),(2,3),(3,4),(10,11) AS t(doc_id_1, doc_id_2)"
        )
        rows = {r["doc_id"]: r for r in connected_components(df, "doc_id_1", "doc_id_2").collect()}
        assert {k: v["component_id"] for k, v in rows.items()} == {
            1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
        }
        assert rows[4]["comp_size"] == 4 and rows[11]["comp_size"] == 2

    def test_non_convergence_raises(self, spark):
        import pytest
        from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
            connected_components,
        )

        df = spark.sql("SELECT * FROM VALUES (1,2),(2,3),(3,4) AS t(doc_id_1, doc_id_2)")
        with pytest.raises(RuntimeError, match="no convergence"):
            connected_components(df, "doc_id_1", "doc_id_2", max_iter=1)


class TestReviewRegressions2:
    """Round-2 late review findings: NULL/degenerate-input parity between
    kernels, Catalyst twins, and the SQL oracles."""

    def test_repetition_null_text_dropped_like_twin(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            repetition_signals,
        )

        df = spark.sql(
            "SELECT * FROM VALUES (1, 'a b a'), (2, CAST(NULL AS STRING)) "
            "AS t(doc_id, text)"
        )
        fast = {tuple(r) for r in repetition_signals(df).collect()}
        slow = {tuple(r) for r in ref.repetition_signals_catalyst(df).collect()}
        assert fast == slow
        assert {r[0] for r in fast} == {1}

    def test_trigram_kernel_nul_bytes_counted_exactly(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            doc_trigram_counts,
            pack_trigram,
        )

        df = spark.sql(
            "SELECT 1 AS doc_id, concat('ab', chr(0), 'ab') AS text"
        )
        got = {r["__tri"]: r["__cnt"] for r in doc_trigram_counts(df).collect()}
        # trigrams of 'ab\x00ab': 'ab\x00', 'b\x00a', '\x00ab' — NULs intact
        assert got == {
            pack_trigram("ab\x00"): 1,
            pack_trigram("b\x00a"): 1,
            pack_trigram("\x00ab"): 1,
        }

    def test_trigram_kernel_non_ascii_packing(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            doc_trigram_counts,
            pack_trigram,
        )

        # multi-byte codepoints (incl. astral plane) pack by ord(), not by
        # UTF-8 bytes: 'héé😀' has trigrams 'héé' and 'éé😀'
        df = spark.sql("SELECT 1 AS doc_id, 'héé\U0001F600' AS text")
        got = {r["__tri"]: r["__cnt"] for r in doc_trigram_counts(df).collect()}
        assert got == {
            pack_trigram("héé"): 1,
            pack_trigram("éé\U0001F600"): 1,
        }

    def test_centroids_empty_vector_excluded(self, spark):
        from pyspark.sql import types as T
        from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
            label_centroid_stats,
        )

        schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ])
        df = spark.createDataFrame(
            [(1, [1.0, 0.0], 0), (2, [], 0), (3, [0.0, 1.0], 0)], schema
        )
        r = label_centroid_stats(df).collect()[0]
        assert r["n_vecs"] == 2

    def test_length_histogram_null_sizes_excluded(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            length_histogram,
        )

        df = spark.sql(
            "SELECT * FROM VALUES (50), (CAST(NULL AS BIGINT)) AS t(n_chars)"
        )
        rows = {r["bucket"]: r["n_docs"] for r in length_histogram(df).collect()}
        assert rows == {0: 1}  # NULL neither in bucket 19 nor anywhere else

    def test_length_histogram_negative_sizes_clamp_to_bucket_zero(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            length_histogram,
        )

        df = spark.sql("SELECT * FROM VALUES (-50), (250) AS t(n_chars)")
        rows = {r["bucket"]: r["n_docs"] for r in length_histogram(df).collect()}
        assert rows == {0: 1, 2: 1}  # no bucket ids below 0


class TestMixtureRebalance:
    def _fixture(self, spark):
        from pyspark.sql import Row

        rows = []
        # heavily skewed domains: 400 / 100 / 20 docs of different sizes
        for d, n, size in (("big", 400, 100), ("mid", 100, 400), ("tiny", 20, 900)):
            for i in range(n):
                rows.append(Row(doc_id=len(rows), source=d, n_chars=size))
        return spark.createDataFrame(rows)

    def test_quotas_feasible_and_proportional(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            rebalance_to_mixture,
        )

        out = {r.source: r for r in rebalance_to_mixture(self._fixture(spark)).collect()}
        for r in out.values():
            assert r.quota <= r.n_docs          # never oversamples a domain
            assert r.n_kept == r.quota          # the filter hit the quota exactly
        # sqrt scaling: equal sum_size (big=40000, mid=40000, tiny=18000)
        # -> big and mid get equal targets, tiny proportionally fewer
        assert out["big"].target_w == out["mid"].target_w
        assert out["tiny"].target_w < out["big"].target_w
        # the binding constraint is mid (100 docs at weight ~0.36)
        for r in out.values():
            assert abs(r.achieved_w - r.target_w) < 0.02

    def test_rebalance_repartition_invariant(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            rebalance_to_mixture,
        )

        df = self._fixture(spark)
        a = sorted(map(tuple, rebalance_to_mixture(df).collect()))
        b = sorted(map(tuple, rebalance_to_mixture(df.repartition(13, "doc_id")).collect()))
        assert a == b


class TestSystematicWeightedSample:
    """systematic_weighted_sample (operators/corpus.py): deterministic
    inverse-CDF draws with closed-form probe counts."""

    @staticmethod
    def _brute(rows, n):
        # rows: list of (part, id, wt) — reference implementation probes
        # positions p_i = (2i+1)W // 2n against the cumulative intervals.
        ordered = sorted(rows, key=lambda r: (r[0], r[1]))
        total = sum(r[2] for r in ordered)
        probes = [((2 * i + 1) * total) // (2 * n) for i in range(n)]
        hits: dict[int, int] = {}
        cum = 0
        for _, rid, wt in ordered:
            lo, cum = cum, cum + wt
            c = sum(1 for p in probes if lo <= p < cum)
            if c:
                hits[rid] = c
        return hits

    def test_matches_brute_force_with_skewed_weights(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            systematic_weighted_sample,
        )

        # one whale (weight 10_000) among minnows (1..40): the whale must
        # be drawn many times (multiplicity), minnows at most once
        rows = [("p%d" % (i % 3), i, 10_000 if i == 7 else (i % 40) + 1)
                for i in range(200)]
        df = spark.createDataFrame(rows, "part string, id long, wt long")
        got = {
            r["id"]: r["n_hits"]
            for r in systematic_weighted_sample(
                df, F.col("wt"), F.col("part"), "id", n=64
            ).collect()
        }
        assert got == self._brute(rows, 64)
        assert sum(got.values()) == 64  # exact-n draws, always
        assert got[7] > 20  # the whale holds >half the mass

    def test_partitioning_invariance(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            systematic_weighted_sample,
        )

        rows = [("s%d" % (i % 5), i, (i * 37) % 97 + 3) for i in range(300)]
        df = spark.createDataFrame(rows, "part string, id long, wt long")

        def run(d):
            return sorted(
                tuple(r) for r in systematic_weighted_sample(
                    d, F.col("wt"), F.col("part"), "id", n=50
                ).collect()
            )

        assert run(df.repartition(1)) == run(df.repartition(32))


class TestDupSpanCensus:
    def test_known_fixture(self, spark):
        """Hand-checkable corpus with span_len=3: a 3-word window is
        duplicated iff it appears in >= 2 distinct docs; within-doc
        repeats alone do not count; per-doc distinct windows are the
        census unit."""
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            dup_span_census,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps"),      # 3 windows
                (2, "a quick brown fox sleeps"),       # shares "quick brown fox"
                (3, "x y z x y z x y"),                # within-doc repeats only
                (4, "totally unique words here now"),  # no dups
                (5, "ab cd"),                          # too short -> absent
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_ppm"])
            for r in dup_span_census(docs, span_len=3).collect()
        }
        # doc 3: windows {x y z, y z x, z x y, x y z...} distinct = 3 —
        # none shared with another doc -> 0 dups
        assert got == {
            1: (3, 1, 333333),
            2: (3, 1, 333333),
            3: (3, 0, 0),
            4: (3, 0, 0),
        }

    def test_matches_string_census_brute_force(self, spark, sf_dir):
        """The packed-key census equals the string-window census on real
        fixture text (collision-freedom at test scale)."""
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            dup_span_census,
        )
        from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
            load_table,
        )

        docs = load_table(spark, sf_dir, "documents").limit(200)
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
            for r in dup_span_census(docs, span_len=10).collect()
        }
        rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
        spans = {}
        for did, text in rows:
            ws = text.split(" ")
            wins = {
                " ".join(ws[i:i + 10]) for i in range(len(ws) - 9)
            }
            spans[did] = wins
        from collections import Counter

        census = Counter(w for wins in spans.values() for w in wins)
        want = {
            did: (
                len(wins),
                sum(1 for w in wins if census[w] >= 2),
            )
            for did, wins in spans.items()
            if wins
        }
        assert got == want

    def test_empty_and_short_corpus(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.corpus import (
            dup_span_census,
        )

        # all docs shorter than the span -> empty report, right schema
        docs = spark.createDataFrame(
            [(1, "too short"), (2, "also short")], "doc_id long, text string"
        )
        out = dup_span_census(docs, span_len=50)
        assert out.count() == 0
        assert out.columns == ["doc_id", "n_spans", "n_dup_spans", "dup_ppm"]
        # NULL text contributes nothing (matches the Catalyst twin)
        docs2 = spark.createDataFrame(
            [(1, None), (2, "a b c d")], "doc_id long, text string"
        )
        rows = dup_span_census(docs2, span_len=3).collect()
        assert [(r["doc_id"], r["n_spans"]) for r in rows] == [(2, 2)]


class TestVocabGrowth:
    def test_known_fixture(self, spark):
        from cassandra_cql_streaming_db_migrator_spark.operators.textops import (
            vocab_growth,
        )

        docs = spark.createDataFrame(
            [
                (0, "a b a"),      # bucket 0: tokens 3, new vocab {a, b}
                (1, "b c"),        # bucket 0: tokens 2, new {c}
                (2, "c d d"),      # bucket 2: tokens 3, new {d}
                (3, "a b"),        # bucket 2: tokens 2, new {}
                (5, "e"),          # bucket 4: tokens 1, new {e}
            ],
            "doc_id long, text string",
        )
        got = sorted(
            (r["bucket"], r["n_docs"], r["cum_tokens"], r["cum_vocab"])
            for r in vocab_growth(docs, bucket_docs=2).collect()
        )
        assert got == [(0, 2, 5, 3), (2, 2, 10, 4), (4, 1, 11, 5)]


class TestEmbeddingPca:
    def test_converges_to_numpy_eigenvector_on_gapped_spectrum(self, spark):
        """On a spectrum with a real gap (one dominant direction + noise)
        the integer iterate points (anti)parallel to numpy's top
        eigenvector after 6 rounds.  (The fixture embeddings are
        near-isotropic — ratio ~0.96 — where NO power method converges in
        few rounds; the operator contract there is exactness and
        determinism of the t-th iterate, covered by the other test and
        the driver oracle.)"""
        import math

        import numpy as np

        from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
            pca_power_iteration,
        )

        rng = np.random.default_rng(3)
        direction = rng.normal(size=8)
        direction /= np.linalg.norm(direction)
        rows = []
        for i in range(400):
            x = rng.normal() * 3.0 * direction + rng.normal(size=8) * 0.3
            rows.append((i, [float(t) for t in x]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r["dim_idx"]: r["component_fp"]
            for r in pca_power_iteration(df, n_dims=8).collect()
        }
        v = np.array([got[i] for i in range(8)], dtype=np.float64)

        q = np.floor(np.array([r[1] for r in rows]) * 1000 + 0.5)
        n = q.shape[0]
        S = n * (q.T @ q) - np.outer(q.sum(axis=0), q.sum(axis=0))
        vals, vecs = np.linalg.eigh(S)
        top = vecs[:, np.argmax(vals)]
        cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
        assert cos > 0.999

    def test_deterministic_under_partitioning(self, spark, sf_dir):
        from cassandra_cql_streaming_db_migrator_spark.operators.clustering import (
            pca_power_iteration,
        )
        from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        one = sorted(
            map(tuple, pca_power_iteration(emb.repartition(1), n_dims=8).collect())
        )
        many = sorted(
            map(tuple, pca_power_iteration(emb.repartition(32), n_dims=8).collect())
        )
        assert one == many
