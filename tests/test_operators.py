"""Operator-level tests (SURVEY §2, §7.4 watch list)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_cql_streaming_db_migrator_spark.operators.anti_join import if_not_exists_filter
from cassandra_cql_streaming_db_migrator_spark.operators.compute import (
    hash_bucket_column,
    java_string_hashcode,
)
from cassandra_cql_streaming_db_migrator_spark.operators.counter import counter_merge
from cassandra_cql_streaming_db_migrator_spark.operators.dedup import exact_dedup
from cassandra_cql_streaming_db_migrator_spark.operators.similarity import cosine_topk, lsh_ann_topk
from cassandra_cql_streaming_db_migrator_spark.operators.ttl import ttl_preserving_columns
from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import quarantine_split, upsert_parquet
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_table

import catalyst_reference as ref


def java_hashcode(s: str) -> int:
    """Reference implementation of JVM String.hashCode: folds UTF-16 CODE
    UNITS (surrogate pairs count as two units) in wrapping int32."""
    h = 0
    units = s.encode("utf-16-be")
    for i in range(0, len(units), 2):
        h = (h * 31 + int.from_bytes(units[i : i + 2], "big")) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


class TestComputedColumns:
    def test_hashcode_jvm_exact(self, spark):
        # DefaultMigratorPlugin.java example (YAML:105-120) requires JVM
        # String.hashCode semantics, including negative hashes and UTF-16
        # surrogate-pair folding for supplementary-plane characters.
        samples = [
            "", "a", "Customer#000000001", "polygenelubricants", "Aa", "BB",
            "héllo wörld",          # BMP non-ASCII
            "中文字符",               # BMP CJK
            "\U0001F600",           # supplementary: emoji alone
            "a\U0001F600b",         # surrogate pair mid-string
            "\U0001D11E music",     # supplementary: musical G clef
            "\U0001F600\U0001F680", # consecutive pairs
        ]
        df = spark.createDataFrame([Row(s=x) for x in samples])
        got = {r.s: r.h for r in df.select("s", java_string_hashcode("s").alias("h")).collect()}
        for s in samples:
            assert got[s] == java_hashcode(s), s

    def test_hashcode_property_random_all_planes(self, spark):
        # property test: 200 seeded random strings drawn from ASCII, BMP and
        # supplementary planes (surrogate-pair folding) in ONE Spark pass
        import random

        rng = random.Random(20260813)
        pools = [
            lambda: chr(rng.randrange(0x20, 0x7F)),          # ASCII
            lambda: chr(rng.randrange(0xA0, 0xD7FF)),        # BMP
            lambda: chr(rng.randrange(0x10000, 0x10FFFF)),   # supplementary
        ]
        samples = [
            "".join(rng.choice(pools)() for _ in range(rng.randrange(0, 24)))
            for _ in range(200)
        ]
        df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(samples)])
        got = {
            r.i: r.h
            for r in df.select("i", java_string_hashcode("s").alias("h")).collect()
        }
        for i, s in enumerate(samples):
            assert got[i] == java_hashcode(s), repr(s)

    def test_hash_bucket_range(self, spark, sf_dir):
        df = load_table(spark, sf_dir, "customer")
        buckets = df.select(hash_bucket_column("c_name", 32).alias("b"))
        mn, mx = buckets.agg(F.min("b"), F.max("b")).first()
        assert 0 <= mn and mx <= 31


class TestCounterMerge:
    def test_null_increments_skipped(self, spark):
        # DMP:426-432 — NULL must never contribute to a counter
        df = spark.createDataFrame(
            [Row(k=1, v=1.5), Row(k=1, v=None), Row(k=2, v=None)],
            schema="k long, v double",
        )
        out = {r.k: (r.v, r.merged_row_count) for r in counter_merge(df, ["k"], ["v"]).collect()}
        assert float(out[1][0]) == 1.5 and out[1][1] == 2
        assert out[2][0] is None and out[2][1] == 1  # all-NULL group sums to NULL

    def test_merge_is_partitioning_invariant(self, spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        a = counter_merge(events, ["user_id"], ["value"]).collect()
        b = counter_merge(events.repartition(7), ["user_id"], ["value"]).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # decimal => exact


class TestTtl:
    def test_age_preserving_arithmetic(self, spark):
        # DMP:360-365: target_ttl = tgtTTL - (srcTTL - rowTtl)
        df = spark.createDataFrame([Row(row_ttl_value=86000), Row(row_ttl_value=100)])
        out = ttl_preserving_columns(df, 86400, 172800).collect()
        assert out[0].target_ttl == 172800 - (86400 - 86000)
        # negative (expired-under-new-TTL) surfaced, not clamped (SURVEY §7.4)
        out2 = ttl_preserving_columns(df, 86400, 200).collect()
        assert out2[1].target_ttl == 200 - (86400 - 100) < 0


class TestAntiJoin:
    def test_survivors_are_applied_writes(self, spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        seeded = orders.filter("o_orderkey % 2 = 0")
        out = if_not_exists_filter(orders, seeded, ["o_orderkey"])
        assert out.count() == orders.count() - seeded.count()
        assert out.filter("o_orderkey % 2 = 0").count() == 0


class TestQuarantine:
    def test_split_covers_all_rows(self, spark):
        df = spark.createDataFrame(
            [Row(k=1, v=1), Row(k=None, v=2), Row(k=3, v=None)], "k long, v long"
        )
        ok, failed = quarantine_split(df, F.col("k").isNotNull())
        assert ok.count() == 2 and failed.count() == 1


class TestUpsert:
    def test_new_rows_win_on_pk(self, spark, tmp_path):
        target = str(tmp_path / "t.parquet")
        spark.createDataFrame([Row(k=1, v="old"), Row(k=2, v="keep")]).write.parquet(target)
        batch = spark.createDataFrame([Row(k=1, v="new"), Row(k=3, v="ins")])
        upsert_parquet(batch, target, ["k"])
        got = {r.k: r.v for r in spark.read.parquet(target).collect()}
        assert got == {1: "new", 2: "keep", 3: "ins"}

    def test_creates_when_missing(self, spark, tmp_path):
        target = str(tmp_path / "fresh.parquet")
        batch = spark.createDataFrame([Row(k=1, v="a")])
        upsert_parquet(batch, target, ["k"])
        assert not os.path.exists(target) or spark.read.parquet(target).count() == 1

    def test_partitioned_target_autoroutes_and_preserves_untouched_files(
        self, spark, tmp_path
    ):
        """A partitioned target must default to the partition-scoped merge:
        files of partitions the batch does not touch stay BYTE-IDENTICAL
        (never read, never rewritten)."""
        import glob
        import hashlib

        target = str(tmp_path / "part.parquet")
        seed = spark.createDataFrame(
            [Row(k=1, v="a", day="d1"), Row(k=2, v="b", day="d2"),
             Row(k=3, v="c", day="d2")]
        )
        seed.write.partitionBy("day").parquet(target)

        def snapshot(part):
            out = {}
            for p in sorted(glob.glob(f"{target}/day={part}/*")):
                with open(p, "rb") as fh:
                    out[os.path.basename(p)] = hashlib.md5(fh.read()).hexdigest()
            return out

        untouched_before = snapshot("d2")
        batch = spark.createDataFrame([Row(k=1, v="NEW", day="d1"),
                                       Row(k=9, v="ins", day="d1")])
        upsert_parquet(batch, target, ["k"])  # plain entry point, no hint
        assert snapshot("d2") == untouched_before  # same names, same bytes
        got = {r.k: (r.v, r.day) for r in spark.read.parquet(target).collect()}
        assert got == {1: ("NEW", "d1"), 9: ("ins", "d1"),
                       2: ("b", "d2"), 3: ("c", "d2")}


class TestCounterSinkReplayFence:
    def test_replayed_epoch_is_skipped(self, spark, tmp_path):
        from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import (
            counter_merge_parquet,
            last_applied_epoch,
        )

        target = str(tmp_path / "counters.parquet")
        batch = spark.createDataFrame([Row(k=1, n=5), Row(k=1, n=5), Row(k=2, n=1)])
        counter_merge_parquet(batch, target, ["k"], ["n"], epoch_id=0)
        counter_merge_parquet(batch, target, ["k"], ["n"], epoch_id=0)  # replay
        got = {r.k: r.n for r in spark.read.parquet(target).collect()}
        assert got == {1: 10, 2: 1}  # applied exactly once
        assert last_applied_epoch(target) == 0
        counter_merge_parquet(batch, target, ["k"], ["n"], epoch_id=1)  # new epoch
        got = {r.k: r.n for r in spark.read.parquet(target).collect()}
        assert got == {1: 20, 2: 2}
        # unfenced calls (no epoch) keep the reference's at-least-once shape
        counter_merge_parquet(batch, target, ["k"], ["n"])
        got = {r.k: r.n for r in spark.read.parquet(target).collect()}
        assert got == {1: 30, 2: 3}


class TestDedup:
    def test_exact_dedup_min_id_winner(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=5, text="x"), Row(doc_id=2, text="x"), Row(doc_id=9, text="y")]
        )
        out = {r.doc_id: r.n_dups for r in exact_dedup(df, "text", "doc_id").collect()}
        assert out == {2: 2, 9: 1}


class TestSimilarity:
    def test_self_similarity_first(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter("vec_id = 7")
        top = cosine_topk(emb, q, k=3).collect()
        assert top[0].vec_id == 7 and abs(top[0].cosine - 1.0) < 1e-12

    def test_ann_subset_of_corpus_and_sorted(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter("vec_id = 7")
        got = lsh_ann_topk(emb, q, k=10, n_bits=4).collect()
        assert len(got) >= 1
        cosines = [r.cosine for r in got]
        assert cosines == sorted(cosines, reverse=True)
        # the query's own bucket contains the query itself
        assert got[0].vec_id == 7


class TestAsofAndIntervalJoins:
    """J2 gap-fill: as-of (union+window) and interval containment joins."""

    def test_asof_backward_picks_latest_at_or_before(self, spark):
        left = spark.createDataFrame(
            [Row(k=1, t=10, lid="a"), Row(k=1, t=20, lid="b"), Row(k=2, t=5, lid="c")],
            "k long, t long, lid string",
        )
        right = spark.createDataFrame(
            [Row(k=1, rt=10, rv="x10"), Row(k=1, rt=15, rv="x15"), Row(k=2, rt=9, rv="y9")],
            "k long, rt long, rv string",
        )
        from cassandra_cql_streaming_db_migrator_spark.operators.joins import asof_join

        out = {
            r["lid"]: r["rv"]
            for r in asof_join(
                left, right, ["k"], "t", "rt", ["rv"]
            ).collect()
        }
        # t=10 matches rt=10 (inclusive tie), t=20 matches rt=15, t=5 has no
        # prior right row -> NULL (left-outer semantics)
        assert out == {"a": "x10", "b": "x15", "c": None}

    def test_asof_forward_picks_earliest_at_or_after(self, spark):
        left = spark.createDataFrame([Row(k=1, t=12, lid="a")], "k long, t long, lid string")
        right = spark.createDataFrame(
            [Row(k=1, rt=10, rv="past"), Row(k=1, rt=12, rv="now"), Row(k=1, rt=30, rv="later")],
            "k long, rt long, rv string",
        )
        from cassandra_cql_streaming_db_migrator_spark.operators.joins import asof_join

        [r] = asof_join(left, right, ["k"], "t", "rt", ["rv"], direction="forward").collect()
        assert r["rv"] == "now"

    def test_interval_bucketed_equals_broadcast(self, spark):
        """The bucketed strategy must produce exactly the broadcast NLJ
        result for any bucket width (points match in their own bucket only)."""
        from cassandra_cql_streaming_db_migrator_spark.operators.joins import (
            interval_join_broadcast,
            interval_join_bucketed,
        )

        points = spark.range(0, 200).select(F.col("id").cast("double").alias("v"))
        ivs = spark.createDataFrame(
            [Row(name="n1", lo=0.0, hi=37.0), Row(name="n2", lo=36.0, hi=120.0),
             Row(name="n3", lo=150.0, hi=151.0)],
            "name string, lo double, hi double",
        )
        base = sorted(
            (r["v"], r["name"])
            for r in interval_join_broadcast(points, ivs, "v", "lo", "hi").collect()
        )
        for width in (1.0, 10.0, 1000.0):
            got = sorted(
                (r["v"], r["name"])
                for r in interval_join_bucketed(points, ivs, "v", "lo", "hi", width).collect()
            )
            assert got == base, f"bucket width {width} diverged"


class TestArrowHofParity:
    """The numpy Arrow kernels must produce bit-identical integers to the
    pure-Catalyst higher-order-function references in catalyst_reference
    (same folds, same moduli)."""

    def test_minhash_signatures_identical(self, spark, sf_dir):
        from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
            minhash_signature_df,
        )

        docs = load_table(spark, sf_dir, "documents")
        a = sorted((r["doc_id"], tuple(r["sig"])) for r in
                   minhash_signature_df(docs, "text", "doc_id").collect())
        h = sorted((r["doc_id"], tuple(r["sig"])) for r in
                   ref.minhash_signature_df(docs, "text", "doc_id").collect())
        assert a == h

    def test_simhash_identical(self, spark, sf_dir):
        from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
            simhash_fingerprints,
        )

        docs = load_table(spark, sf_dir, "documents")
        a = sorted(tuple(r) for r in simhash_fingerprints(docs).collect())
        h = sorted(tuple(r) for r in ref.simhash_fingerprints(docs).collect())
        assert a == h

    def test_edge_strings(self, spark):
        """Empty docs, docs shorter than the shingle, multi-space tokens,
        non-ascii codepoints — both engines must agree everywhere."""
        from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
            minhash_signature_df,
            simhash_fingerprints,
        )

        df = spark.createDataFrame(
            [(0, ""), (1, "ab"), (2, "abcd"), (3, "exactly"), (4, "a  b   c"),
             (5, "héllo wörld ünïcode"), (6, " lead and trail "), (7, "aaaaaaa")],
            "doc_id long, text string",
        )
        a = sorted((r["doc_id"], tuple(r["sig"])) for r in
                   minhash_signature_df(df, "text", "doc_id").collect())
        h = sorted((r["doc_id"], tuple(r["sig"])) for r in
                   ref.minhash_signature_df(df, "text", "doc_id").collect())
        assert a == h
        sa = sorted(tuple(r) for r in simhash_fingerprints(df).collect())
        sh = sorted(tuple(r) for r in ref.simhash_fingerprints(df).collect())
        assert sa == sh


def _with_zero_vector(emb):
    """The embeddings fixture plus one all-zero vector under label 0: its
    cosine with anything is 0/0, a NULL on both paths."""
    dim = len(emb.select("embedding").first()[0])
    zero = emb.sparkSession.createDataFrame([(10**6, [0.0] * dim, 0)], emb.schema)
    return emb.unionByName(zero)


def test_block_top_pairs_arrow_equals_hof(spark, sf_dir):
    """The applyInPandas pair kernel must reproduce the Catalyst fold
    bit-for-bit (sequential-fold dot, same ranking), including the NULL
    cosines of a zero vector, which rank last in their block."""
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        block_top_pairs,
    )

    emb = _with_zero_vector(load_table(spark, sf_dir, "embeddings"))
    a = sorted(tuple(r) for r in block_top_pairs(emb, "label", 3).collect())
    h = sorted(tuple(r) for r in ref.block_top_pairs(emb, "label", 3).collect())
    assert a == h
    # k past every block's pair count: the zero vector's pairs are ranked too
    a_all = sorted(tuple(r) for r in block_top_pairs(emb, "label", 10**5).collect())
    h_all = sorted(tuple(r) for r in ref.block_top_pairs(emb, "label", 10**5).collect())
    assert a_all == h_all
    zero_pairs = [r for r in a_all if 10**6 in (r[1], r[2])]
    assert zero_pairs and all(r[3] is None for r in zero_pairs)


def test_block_pair_kernels_chunked_skewed_block(spark, sf_dir, monkeypatch):
    """A deliberately skewed block (every row under ONE label) forced through
    a tiny pair-chunk budget must produce results identical to the
    effectively-unchunked kernel — the bounded-memory path is a pure
    regrouping of the pair enumeration, not an approximation."""
    from cassandra_cql_streaming_db_migrator_spark.operators import similarity

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .limit(120)
        .withColumn("label", F.lit(0))
    )

    big = [tuple(r) for r in similarity.block_top_pairs(emb, "label", 5).collect()]
    big_nd = sorted(
        tuple(r)
        for r in similarity.block_near_dup_pairs(emb, "label", 0.3).collect()
    )
    # 120 rows -> 7140 pairs; budget of 500 elements (dim 64 -> 7 pairs per
    # chunk) forces ~1000 flush/merge cycles through the running top-k
    monkeypatch.setattr(similarity, "_PAIR_ELEM_BUDGET", 500)
    small = [tuple(r) for r in similarity.block_top_pairs(emb, "label", 5).collect()]
    small_nd = sorted(
        tuple(r)
        for r in similarity.block_near_dup_pairs(emb, "label", 0.3).collect()
    )
    assert big == small
    assert big_nd == small_nd and len(big_nd) > 0


def test_similarity_arrow_equals_hof(spark, sf_dir):
    """Vectorized cosine scoring and LSH bucketing reproduce the Catalyst
    folds bit-for-bit; a zero vector scores a NULL cosine and sorts last
    on both paths."""
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        cosine_topk,
        with_bucket_ids,
    )

    emb = _with_zero_vector(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == 0)
    a = [tuple(r) for r in cosine_topk(emb, q, 20).collect()]
    h = [tuple(r) for r in ref.cosine_topk(emb, q, 20).collect()]
    assert a == h
    n = emb.count()
    a_all = [tuple(r) for r in cosine_topk(emb, q, n).collect()]
    h_all = [tuple(r) for r in ref.cosine_topk(emb, q, n).collect()]
    assert a_all == h_all and a_all[-1] == (10**6, None)
    ba = sorted((r["vec_id"], r["__bucket"]) for r in
                with_bucket_ids(emb, n_bits=6).collect())
    bh = sorted((r["vec_id"], r["__bucket"]) for r in
                ref.with_bucket_ids(emb, n_bits=6).collect())
    assert ba == bh


def test_ivf_ann_candidates_from_probed_cells_only(spark, sf_dir):
    """IVF results carry their cell id; every returned cell must be one of
    the query's n_probe nearest centroids, and results sort by cosine."""
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        ivf_ann_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    rows = ivf_ann_topk(emb, q, 20, n_cells=8, n_probe=2).collect()
    assert 0 < len(rows) <= 20
    assert len({r["cell"] for r in rows}) <= 2
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    # the query vector itself is its own best match
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["cosine"] - 1.0) < 1e-12


class TestCounterMergeSink:
    """K3 sink semantics: stored state accumulates across merges."""

    def test_merges_accumulate_and_new_keys_appear(self, spark, tmp_path):
        from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import (
            counter_merge_parquet,
        )

        path = str(tmp_path / "counters")
        b1 = spark.createDataFrame(
            [Row(k=1, hits=10), Row(k=1, hits=5), Row(k=2, hits=1)], "k long, hits long"
        )
        counter_merge_parquet(b1, path, ["k"], ["hits"])
        b2 = spark.createDataFrame(
            [Row(k=1, hits=2), Row(k=3, hits=7), Row(k=2, hits=None)], "k long, hits long"
        )
        counter_merge_parquet(b2, path, ["k"], ["hits"])
        got = {r["k"]: r["hits"] for r in spark.read.parquet(path).collect()}
        # k=1: 15+2; k=2: 1 + NULL-increment-skipped; k=3 new
        assert got == {1: 17, 2: 1, 3: 7}

    def test_streaming_migration_of_counter_table(self, spark, tmp_path):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration
        from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
            migrate_stream_to_parquet,
        )

        src = tmp_path / "stream_src"
        src.mkdir()
        pq.write_table(pa.table({"k": [1, 1, 2], "hits": [3, 4, 5]}), str(src / "a.parquet"))
        pq.write_table(pa.table({"k": [1, 2], "hits": [10, 20]}), str(src / "b.parquet"))
        stream = spark.readStream.schema("k long, hits long").option(
            "maxFilesPerTrigger", 1
        ).parquet(str(src))
        spec = TableMigration(
            table_name="counters",
            key_columns=["k"],
            counter_columns=["hits"],
            simulate_only=False,
            continue_on_row_error=True,
        )
        target = str(tmp_path / "target")
        migrate_stream_to_parquet(stream, spec, target,
                                  checkpoint_dir=str(tmp_path / "ckpt"))
        got = {r["k"]: r["hits"] for r in spark.read.parquet(target).collect()}
        assert got == {1: 17, 2: 25}


def test_minhash_join_matches_self_join_restriction(spark, sf_dir):
    """Cross-corpus minhash join vs the proven self-join pipeline: on a
    split corpus, (new, old) results must equal fuzzy_dedup_pairs' pairs
    restricted to split-crossing ones (in either id order)."""
    from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
        fuzzy_dedup_pairs,
        minhash_join,
    )
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    got = {
        (r["doc_id_new"], r["doc_id_old"]): (r["est_jaccard"], r["jaccard"])
        for r in minhash_join(batch, corpus, "text", "doc_id").collect()
    }
    ref = {}
    for r in fuzzy_dedup_pairs(docs, "text", "doc_id").collect():
        a, b = r["doc_id_1"], r["doc_id_2"]
        for new, old in ((a, b), (b, a)):
            if new % 10 == 0 and old % 10 != 0:
                ref[(new, old)] = (r["est_jaccard"], r["jaccard"])
    assert got == ref
    assert got  # the fixture split actually crosses near-dup families


def test_minhash_join_shuffle_path_bit_identical(spark, sf_dir):
    """broadcast_batch=False (the batch ~ corpus backfill contract,
    VERDICT r04 ask #5) must be bit-equal to the default broadcast probe,
    and its plan must not broadcast the band join's batch side."""
    from cassandra_cql_streaming_db_migrator_spark.operators.dedup import (
        minhash_join,
    )
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    bcast = minhash_join(batch, corpus, "text", "doc_id")
    shuffled = minhash_join(
        batch, corpus, "text", "doc_id", broadcast_batch=False
    )
    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, shuffled.collect())
    )
    assert bcast.collect()  # non-vacuous
