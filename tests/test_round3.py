"""Round-3 additions: dedup NULL policies, single-pass fingerprint
parity, and the isolated-swap OSA==DL planted construction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from triple_accel_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_lsh_duplicates,
    with_simhash,
)
from triple_accel_spark.operators.text import fingerprint64, with_fingerprint

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def null_corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, None),
        (4, None),
        (5, "an entirely different document body here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedupNullPolicy:
    def test_dedup_exact_keeps_all_null_text_rows(self, null_corpus):
        kept = sorted(
            r.doc_id for r in dedup_exact(null_corpus, "text", "doc_id").collect()
        )
        # 1 wins its duplicate group; 3 and 4 are NOT duplicates of each
        # other (NULL has no content) and must both survive
        assert kept == [1, 3, 4, 5]

    def test_exact_duplicates_excludes_null_groups(self, null_corpus):
        groups = exact_duplicates(null_corpus, "text", "doc_id").collect()
        assert len(groups) == 1
        assert sorted(groups[0].ids) == [1, 2]
        assert groups[0].n_copies == 2

    def test_exact_duplicates_default_is_bounded(self, spark):
        # the default caps the output id array (adversarial huge-group
        # safety); n_copies stays exact so the cap is detectable, and
        # max_ids=None opts into full membership
        df = spark.createDataFrame(
            [(i, "same text") for i in range(1500)], "doc_id long, text string"
        )
        g = exact_duplicates(df, "text", "doc_id").collect()[0]
        assert g.n_copies == 1500 and len(g.ids) == 1000
        full = exact_duplicates(df, "text", "doc_id", max_ids=None).collect()[0]
        assert full.n_copies == 1500 and len(full.ids) == 1500
        capped = exact_duplicates(df, "text", "doc_id", max_ids=10).collect()[0]
        assert capped.n_copies == 1500 and len(capped.ids) == 10

    def test_minhash_lsh_ignores_null_docs(self, null_corpus):
        pairs = minhash_lsh_duplicates(
            null_corpus, "text", "doc_id", q=3, num_hashes=8, num_bands=4,
            jaccard_threshold=0.5,
        ).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}

    def test_with_simhash_skips_null_docs(self, null_corpus):
        out = with_simhash(null_corpus, "text", "doc_id")
        assert sorted(r.doc_id for r in out.collect()) == [1, 2, 5]


class TestFingerprintSinglePass:
    @pytest.mark.parametrize("gram_hash", ["xxhash64", "md5"])
    def test_matches_column_form(self, spark, gram_hash):
        d = spark.read.parquet(DOCS).limit(120)
        col_form = d.select(
            "doc_id", fingerprint64("text", gram_hash=gram_hash).alias("fp")
        )
        single_pass = with_fingerprint(d, "text", "doc_id", gram_hash=gram_hash)
        diff = col_form.join(single_pass.withColumnRenamed("fp", "fp2"), "doc_id")
        assert diff.where(F.col("fp") != F.col("fp2")).count() == 0
        assert single_pass.count() == 120

    def test_short_text_fallback_matches(self, spark):
        # texts shorter than q take qgrams' [whole text] fallback
        d = spark.createDataFrame(
            [(1, "ab"), (2, ""), (3, "exactly8"), (4, "a longer text body")],
            "doc_id long, text string",
        )
        a = {r.doc_id: r.fp for r in d.select(
            "doc_id", fingerprint64("text").alias("fp")).collect()}
        b = {r.doc_id: r.fp for r in with_fingerprint(d, "text", "doc_id").collect()}
        assert a == b

    def test_null_text_yields_no_row(self, spark):
        d = spark.createDataFrame([(1, "abcdefghij"), (2, None)],
                                  "doc_id long, text string")
        assert [r.doc_id for r in with_fingerprint(d, "text", "doc_id").collect()] == [1]

    def test_no_higher_order_function_in_plan(self, spark):
        d = spark.read.parquet(DOCS)
        plan = with_fingerprint(d, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
        assert "aggregate(" not in plan and "zip_with" not in plan


class TestLangIdSinglePass:
    def test_matches_column_form(self, spark):
        from triple_accel_spark.operators.text import lang_id, with_lang_id

        d = spark.read.parquet(DOCS)
        col_form = d.select("doc_id", lang_id("text").alias("lp"))
        single = with_lang_id(d, "text", "doc_id").withColumnRenamed(
            "lang_pred", "lp2"
        )
        j = col_form.join(single, "doc_id")
        assert j.count() == d.count()
        assert j.where(F.col("lp") != F.col("lp2")).count() == 0

    def test_null_and_empty_text_are_und(self, spark):
        from triple_accel_spark.operators.text import with_lang_id

        d = spark.createDataFrame(
            [(1, None), (2, ""), (3, "the of and to in is")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.lang_pred for r in with_lang_id(d).collect()}
        assert got == {1: "und", 2: "und", 3: "en"}

    def test_no_filter_lambda_in_plan(self, spark):
        from triple_accel_spark.operators.text import with_lang_id

        d = spark.read.parquet(DOCS)
        plan = with_lang_id(d)._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan.lower()


class TestPairDedupeShuffleWidth:
    def test_cross_band_dedupe_carries_ids_only(self, spark):
        # the cross-band pair dedupe must be an id-only distinct; the
        # old shape aggregated first(doc_a)/first(doc_b), re-shuffling
        # full payloads once more after the self-join
        import re

        from triple_accel_spark.operators.blocking import with_prefix_blocks
        from triple_accel_spark.operators.pairs import candidate_pairs

        d = spark.read.parquet(DOCS).limit(200).selectExpr(
            "doc_id", "text as doc"
        )
        blocked = with_prefix_blocks(d, "doc", prefix_len=8)
        pairs = candidate_pairs(
            blocked, id_col="doc_id", block_col="block_key",
            payload_cols=("doc",), max_block_size=None,
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]", plan
        )
        # first(doc) may appear only in the per-record payload frame
        # (keyed by rid), never in a pair-keyed aggregate
        assert not re.search(
            r"keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\w*first", plan
        )
        for fr in pairs._persisted_frames:
            fr.unpersist()

    def test_payload_reattach_preserves_pairs(self, spark):
        from triple_accel_spark.operators.blocking import with_prefix_blocks
        from triple_accel_spark.operators.pairs import candidate_pairs

        d = spark.read.parquet(DOCS).limit(200).selectExpr(
            "doc_id", "text as doc"
        )
        blocked = with_prefix_blocks(d, "doc", prefix_len=8)
        pairs = candidate_pairs(
            blocked, id_col="doc_id", block_col="block_key",
            payload_cols=("doc",), max_block_size=None,
        ).collect()
        texts = {r.doc_id: r.doc for r in d.collect()}
        assert len(pairs) > 0
        for r in pairs:
            assert r.id_a < r.id_b
            assert r.doc_a == texts[r.id_a] and r.doc_b == texts[r.id_b]


class TestIVFTopK:
    EMB = "/root/testdata/sf0.001/embeddings.parquet"

    @pytest.fixture(scope="class")
    def dbl(self, spark):
        emb = spark.read.parquet(self.EMB)
        return emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        ).persist()

    def test_full_probe_equals_brute_force(self, dbl):
        from triple_accel_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        qs = dbl.where(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
        corpus = dbl.where(F.col("vec_id") >= 8)
        ivf = ivf_topk(corpus, qs, k=5, n_centroids=16, n_probe=16)
        bf = brute_force_topk(corpus, qs, k=5)
        a = {(r.query_id, r.vec_id, r.rank) for r in ivf.collect()}
        b = {(r.query_id, r.vec_id, r.rank) for r in bf.collect()}
        assert a == b and len(a) == 40

    def test_planted_copy_recall_is_one(self, dbl):
        # a scaled copy has the identical normalized vector, hence the
        # same nearest centroid and probe list as its source — the
        # source is always in a probed bucket, so top-1 recall on
        # planted copies is exactly 1.0 at ANY n_probe
        from triple_accel_spark.operators.similarity import ivf_topk

        corpus = dbl.where(F.col("vec_id") < 300)
        qs = corpus.where(F.col("vec_id") % 5 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.transform("embedding", lambda x: x * F.lit(0.25)).alias("embedding"),
        )
        top1 = ivf_topk(corpus, qs, k=1, n_centroids=32, n_probe=2)
        rows = top1.collect()
        assert len(rows) == qs.count()
        for r in rows:
            assert r.vec_id == r.query_id and abs(r.cosine - 1.0) < 1e-9


class TestSimhashNearDuplicates:
    def test_banded_equals_exact_cross_join(self, spark):
        # pigeonhole recall is structural: the banded operator must
        # EQUAL the brute-force Hamming filter over the same sketches
        # (production xxhash64 mode, no oracle involved)
        from triple_accel_spark.operators.dedup import (
            simhash_near_duplicates,
            with_simhash,
        )

        d = spark.read.parquet(DOCS).where(F.col("doc_id") < 200)
        mut = d.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.concat(F.substring("text", 1, 30), F.lit("@"),
                     F.expr("substring(text, 32)")).alias("text"),
        )
        corpus = d.select("doc_id", "text").union(mut)
        got = simhash_near_duplicates(
            corpus, "text", "doc_id", max_hamming=5, n_bands=8
        )
        pairs = {(r.id_a, r.id_b, r.hamming) for r in got.collect()}
        for fr in got._persisted_frames:
            fr.unpersist()
        sh = with_simhash(corpus, "text", "doc_id", out_col="sh")
        a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        exact = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("hamming",
                        F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long"))
            .where(F.col("hamming") <= 5)
        )
        want = {(r.id_a, r.id_b, r.hamming) for r in exact.collect()}
        assert pairs == want and len(want) > 0

    def test_guarantee_precondition_enforced(self, spark):
        from triple_accel_spark.operators.dedup import simhash_near_duplicates

        d = spark.read.parquet(DOCS).limit(5)
        with pytest.raises(ValueError):
            simhash_near_duplicates(d, max_hamming=4, n_bands=4)


class TestArrowVectorMath:
    EMB = "/root/testdata/sf0.001/embeddings.parquet"

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        emb = spark.read.parquet(self.EMB).limit(300)
        return emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).persist()

    def test_bucket_arrow_equals_expr_exactly(self, vecs):
        from triple_accel_spark.operators.similarity import (
            hyperplane_bucket,
            hyperplane_bucket_arrow,
        )

        both = vecs.select(
            "vec_id",
            hyperplane_bucket(F.col("v"), 12, 42).alias("be"),
            hyperplane_bucket_arrow(vecs, F.col("v"), 12, 42).alias("ba"),
        )
        assert both.where(F.col("be") != F.col("ba")).count() == 0

    def test_multitable_buckets_match_per_table_expr(self, vecs):
        from triple_accel_spark.operators.similarity import (
            hyperplane_bucket,
            multitable_buckets_arrow,
        )

        n_planes, n_tables = 4, 6
        expr_cols = F.array(
            *[hyperplane_bucket(F.col("v"), n_planes, 42 + t) for t in range(n_tables)]
        )
        both = vecs.select(
            expr_cols.alias("be"),
            multitable_buckets_arrow(vecs, F.col("v"), n_planes, n_tables, 42).alias("ba"),
        )
        assert both.where(F.col("be") != F.col("ba")).count() == 0

    def test_cosine_arrow_matches_expr_to_1e9(self, vecs):
        from triple_accel_spark.operators.similarity import cosine_arrow, cosine_expr

        a = vecs.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
        b = vecs.select((F.col("vec_id") - 1).alias("ia"), F.col("v").alias("vb"))
        p = a.join(b, "ia")
        diff = p.select(
            (F.abs(cosine_arrow("va", "vb") - cosine_expr("va", "vb"))).alias("d")
        ).agg(F.max("d")).collect()[0][0]
        assert diff < 1e-9

    def test_single_arrow_eval_node_in_filtered_plan(self, vecs):
        # .asNondeterministic(): a filter referencing the UDF must not
        # duplicate it into a second ArrowEvalPython evaluation
        from triple_accel_spark.operators.similarity import cosine_arrow

        a = vecs.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
        b = vecs.select((F.col("vec_id") - 1).alias("ia"), F.col("v").alias("vb"))
        q = (
            a.join(b, "ia")
            .withColumn("cosine", cosine_arrow("va", "vb"))
            .where(F.col("cosine") > 0.2)
            .select("ia", "cosine")
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1


class TestPPMDecode:
    def test_round_trip(self):
        import numpy as np

        from triple_accel_spark.operators.multimodal import decode_ppm, encode_ppm

        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, (5, 9, 3), dtype=np.uint8)
        assert (decode_ppm(encode_ppm(px)) == px).all()
        # header comments are part of the P6 grammar
        assert (decode_ppm(encode_ppm(px, comment="made by tests")) == px).all()

    def test_rejects_non_ppm(self):
        from triple_accel_spark.operators.multimodal import decode_ppm

        with pytest.raises(ValueError):
            decode_ppm(b"\x89PNG\r\n")

    def test_real_feature_path_on_decoded_pixels(self):
        # decode -> feature end-to-end with REAL pixels (not byte
        # fakes): the feature of a known image is its pixel histogram
        import numpy as np

        from triple_accel_spark.operators.multimodal import (
            encode_ppm,
            image_feature_real,
        )

        px = np.zeros((2, 4, 3), dtype=np.uint8)
        px[0, :, :] = 5   # 12 bytes of value 5
        px[1, :, :] = 21  # 12 bytes of value 21 -> also bucket 5 (mod 16)
        feat = image_feature_real(encode_ppm(px), dim=16)
        expected = np.zeros(16, dtype=np.float32)
        expected[5] = 1.0  # all 24 bytes fold into bucket 5, unit-norm
        assert np.allclose(feat, expected)

    def test_decode_stats_over_spark(self, spark):
        import numpy as np

        from triple_accel_spark.operators.multimodal import (
            decode_stats,
            encode_ppm,
        )

        px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
        rows = [(1, "image", bytearray(encode_ppm(px)))]
        media = spark.createDataFrame(
            rows, "media_id long, kind string, content binary"
        )
        r = decode_stats(media).collect()[0]
        assert (r.width, r.height, r.n_px) == (4, 2, 24)
        assert r.mean_px == sum(range(24)) / 24


class TestPipelineLifecycleAndRouting:
    @pytest.fixture(scope="class")
    def transcripts(self, spark):
        from triple_accel_spark.sources.transcripts import generate_transcripts

        tdf, _ = generate_transcripts(n_entities=120, seed=7)
        return spark.createDataFrame(tdf)

    def test_unpersist_releases_all_result_caches(self, spark, transcripts):
        from triple_accel_spark.pipeline import ResolveConfig, resolve_entities

        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc.sc()
        before = len(jsc.getRDDStorageInfo())
        for _ in range(2):  # repeated invocations must not accumulate
            with resolve_entities(transcripts, ResolveConfig(sim_threshold=0.88)):
                pass
        # <=: Spark's async ContextCleaner may also retire entries from
        # EARLIER tests between the two snapshots under the full suite;
        # the property under test is no per-invocation ACCUMULATION
        assert len(jsc.getRDDStorageInfo()) <= before

    def test_local_and_distributed_cc_agree(self, spark, transcripts):
        from triple_accel_spark.pipeline import ResolveConfig, resolve_entities

        with resolve_entities(
            transcripts, ResolveConfig(sim_threshold=0.88)
        ) as res_local, resolve_entities(
            transcripts, ResolveConfig(sim_threshold=0.88, cc_local_threshold=0)
        ) as res_dist:
            assert res_local.metrics["cc_path"] == "local"
            assert res_dist.metrics["cc_path"] == "distributed"
            a = {(r.id, r.cluster_id) for r in res_local.clusters.collect()}
            b = {(r.id, r.cluster_id) for r in res_dist.clusters.collect()}
            assert a == b

    def test_catalog_table_source_seam(self, spark, transcripts, tmp_path):
        # the iceberg seam: --format table resolves the input through
        # the catalog (spark.table), preserving bucket metadata; no
        # iceberg jars in the sandbox, so the bucketed managed table
        # stands in for the catalog-resolved path end to end
        from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
        from triple_accel_spark.sources.bucketed import write_bucketed
        from triple_accel_spark.sources.transcripts import load_transcripts

        write_bucketed(transcripts, "r3_transcripts_tbl", "conv_id", n_buckets=8)
        try:
            t = load_transcripts(spark, "r3_transcripts_tbl", "table")
            assert t.count() == transcripts.count()
            with resolve_entities(t, ResolveConfig(sim_threshold=0.88)) as res:
                assert res.metrics["n_records"] == transcripts.select(
                    "conv_id"
                ).distinct().count()
        finally:
            spark.sql("DROP TABLE IF EXISTS r3_transcripts_tbl")


class TestAnchoredPrescan:
    def test_anchored_fast_path_equals_dp(self):
        """The anchored Myers prescan + subset DP must be bit-identical
        to the pure anchored DP (needles spanning 1..199 chars cover
        the multi-word carry-in path)."""
        import numpy as np

        from triple_accel_spark.kernels.costs import LEVENSHTEIN_COSTS
        from triple_accel_spark.kernels.encode import encode_batch
        from triple_accel_spark.kernels.search import (
            _lev_search_dp,
            lev_search_batch,
        )

        rng = np.random.default_rng(3)
        al = np.frombuffer(b"abcd", dtype=np.uint8)

        def mk(n):
            return rng.choice(al, n).astype(np.uint8).tobytes().decode()

        needles, hays = [], []
        for i in range(250):
            m = int(rng.integers(1, 200))
            h = int(rng.integers(0, 240))
            nd, hy = mk(m), mk(h)
            if i % 3 == 0:
                hy = nd + hy  # anchored hit at the start
            needles.append(nd)
            hays.append(hy)
        needles += [None, "ab", ""]
        hays += ["abc", None, "xyz"]
        for st in ("best", "all"):
            for k in (None, 0, 2):
                got = lev_search_batch(
                    needles, hays, k=k, search_type=st, anchored=True
                )
                nm, nl, _ = encode_batch(needles)
                hm, hl, _ = encode_batch(hays)
                valid = np.array(
                    [a is not None and b is not None for a, b in zip(needles, hays)]
                )
                ka = (
                    ((nl >> 1) + (nl & 1)).astype(np.int64)
                    if k is None
                    else np.full(len(needles), k, dtype=np.int64)
                )
                want = _lev_search_dp(
                    nm, nl, hm, hl, valid, ka, st, LEVENSHTEIN_COSTS, True
                )
                assert got == want, (st, k)


class TestCombinedCostTraceback:
    def test_struct_matches_separate_calls(self, spark):
        from triple_accel_spark.functions import (
            edit_distance,
            edit_traceback,
            edit_with_traceback,
        )

        d = spark.read.parquet(DOCS).limit(40)
        p = d.select(
            "doc_id",
            F.col("text").alias("ta"),
            F.concat(F.substring("text", 1, 30), F.lit("XY"),
                     F.expr("substring(text, 31)")).alias("tb"),
        )
        rows = p.select(
            "doc_id",
            edit_with_traceback("ta", "tb").alias("ct"),
            edit_distance("ta", "tb").alias("cost2"),
            edit_traceback("ta", "tb").alias("trace2"),
        ).collect()
        assert rows
        for r in rows:
            assert r.ct.cost == r.cost2
            # e["count"], not e.count: Row.count is a method
            assert [(e.edit, e["count"]) for e in r.ct.trace] == [
                (e.edit, e["count"]) for e in r.trace2
            ]

    def test_k_cutoff_nulls_fields(self, spark):
        from triple_accel_spark.functions import edit_with_traceback

        p = spark.createDataFrame(
            [(1, "abcdef", "abcdef"), (2, "abcdef", "zzzzzz"), (3, None, "x")],
            "id long, ta string, tb string",
        )
        rows = {r.id: r.ct for r in p.select(
            "id", edit_with_traceback("ta", "tb", k=2).alias("ct")).collect()}
        assert rows[1].cost == 0 and rows[1].trace[0].edit == "match"
        assert rows[2].cost is None and rows[2].trace is None
        assert rows[3].cost is None and rows[3].trace is None

    def test_compat_with_opts_returns_struct(self, spark):
        from triple_accel_spark.functions import compat

        p = spark.createDataFrame([("kitten", "sitting")], "ta string, tb string")
        r = p.select(
            compat.levenshtein_simd_k_with_opts("ta", "tb", 5, trace_on=True)
            .alias("ct")
        ).collect()[0]
        assert r.ct.cost == 3
        total = sum(e["count"] for e in r.ct.trace if e.edit != "match")
        assert total == 3


class TestIsolatedSwapOSA:
    def test_swapped_planted_counts_transpositions(self, spark):
        # the planted construction must actually exercise the transpose
        # recurrence: distance == number of swap sites whose two chars
        # differ (1 per isolated adjacent swap), NOT 2x (substitutions)
        from triple_accel_spark.functions import rdamerau

        rows = [(1, "abcdefghij" * 8), (2, "0123456789" * 6)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        swapped = F.concat(
            F.substring("text", 1, 9),
            F.substring("text", 11, 1), F.substring("text", 10, 1),
            F.substring("text", 12, 18),
            F.substring("text", 31, 1), F.substring("text", 30, 1),
            F.substring("text", 32, 18),
            F.substring("text", 51, 1), F.substring("text", 50, 1),
            F.expr("substring(text, 52)"),
        )
        out = {r.doc_id: r.d for r in d.select(
            "doc_id", rdamerau(F.col("text"), swapped).alias("d")).collect()}
        # all three swap sites have distinct chars -> exactly 3 each
        assert out == {1: 3, 2: 3}
