"""Round-5 regression tests: driver-registry budget, cleanse
single-execution of the dedup stages, no pre-blocking driver action at
pipeline defaults, and the streaming per-pair-k boundary contract."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def test_registry_within_driver_window():
    """The driver verifies at most the first 50 ``queries()`` entries
    (round 4 registered 60 and the last 10 were silently unchecked).
    Guard the budget AND that every oracle key is a registered query."""
    import __spark_entry__ as m

    qs = m.queries()
    assert len(qs) <= 50, f"registry outgrew the driver window: {len(qs)}"
    assert set(m.oracle_sql()) <= set(qs)


def test_cleanse_dedup_stages_execute_once(spark):
    """The exact-dedup join and the near-dedup survivor join must run
    exactly once per cleanse: input scanned only to materialize the
    flagged projection (its two join branches), with metric counts AND
    the caller's consumption of ``res.kept`` served from the persisted
    frames (round-4 verdict: metrics re-counted the un-persisted
    lineage and consumption re-executed the joins ~3x)."""
    from triple_accel_spark.operators.corpus import (
        CleanseConfig,
        prepare_training_corpus,
    )

    rows = [
        (1, "the cat sat on the mat with the hat and the bat"),
        (2, "the cat sat on the mat with the hat and the bat"),
        (3, "the cat sat on the mat with the hat and the rat"),
        (4, "completely different english text about the quick brown fox"),
    ]
    acc = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(rows, "doc_id long, text string")
    df = base.mapInPandas(counted, base.schema)
    res = prepare_training_corpus(
        df,
        cfg=CleanseConfig(
            min_tokens=5, quality_threshold=0.5, langs=("en",),
            q=3, num_hashes=32, num_bands=16, jaccard_threshold=0.6,
        ),
    )
    after_build = acc.value
    # the flagged projection materializes once, scanning the input
    # through its three join branches (quality/token side + with_lang_id's
    # ids frame and token frame) — and nothing else touches the input
    assert after_build == 3 * len(rows)
    # consuming the result repeatedly must not re-execute anything
    # upstream of the persisted frames
    assert {r.doc_id for r in res.kept.collect()} == {1, 4}
    res.kept.count()
    assert acc.value == after_build
    assert res.metrics["n_exact"] == 3  # exact dup (2) dropped
    assert res.metrics["n_near"] == 2   # near dup (3) dropped
    res.unpersist()


def test_resolve_no_pre_blocking_action_at_defaults(spark, monkeypatch):
    """At default settings (per-pair k) ``resolve_entities`` issues
    exactly TWO driver actions before the fused scored-pairs aggregate:
    the docs census ``collect()``, which eagerly materializes the docs
    cache before the blocking, candidate and doc-attach branches fan out
    from it (Spark's block cache does not serialize concurrent cold
    computes, so a lazy cache re-ran the assemble aggregation up to 4x
    in racing AQE branches), and the candidate join's pin of its ids-only
    base. The earlier rule this replaces ("no pre-blocking action")
    guarded against a REDUNDANT pass; the census pass is work every
    consumer needed anyway and yields n_docs and the docs lineage rows."""
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is the
    # abstract base; instances are classic.dataframe.DataFrame)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older Spark
        from pyspark.sql import DataFrame

    from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
    from triple_accel_spark.sources.transcripts import generate_transcripts

    calls: list[tuple[str, tuple]] = []
    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def rec_collect(self):
        calls.append(("collect", tuple(self.columns)))
        return orig_collect(self)

    def rec_count(self):
        calls.append(("count", tuple(self.columns)))
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "collect", rec_collect)
    monkeypatch.setattr(DataFrame, "count", rec_count)

    tdf, _ = generate_transcripts(n_entities=40, seed=7)
    t = spark.createDataFrame(tdf)
    res = resolve_entities(t, ResolveConfig(sim_threshold=0.88))
    assert calls, "no driver actions recorded"
    # action 1: the docs census collect (cache pin + n_docs metric)
    kind, cols = calls[0]
    assert kind == "collect" and cols == (
        "stage", "partition_id", "n_rows", "n_bytes", "min_id", "max_id"
    ), f"first action was {calls[0]}, expected the docs census collect"
    # action 2: candidate_pairs' eager pin of its projected base cache,
    # which carries ids and block keys only (same rationale — it fans
    # out into the size census and both join roles)
    kind, cols = calls[1]
    assert kind == "count" and set(cols) == {"rid", "bk"}, (
        f"second action was {calls[1]}, expected the ids-only base pin"
    )
    # action 3: the scored census, which also counts the matches — no
    # other action may sneak in between the pins and it
    kind, cols = calls[2]
    assert kind == "collect" and {"partition_id", "n_rows", "m_n_rows"} <= set(cols), (
        f"third action was {calls[2]}, expected the scored census"
    )
    # census present and correct
    n_convs = t.select("conv_id").distinct().count()
    assert res.metrics["n_docs"] == n_convs
    res.unpersist()


def test_ivf_replicated_full_probe_equals_brute_force(spark):
    """``assign_replicas`` > 1 replicates corpus vectors into multiple
    buckets; the ids-only dedupe must leave every (query, corpus) pair
    scored exactly once, so full probe still EQUALS exact brute force
    (the hash-oracle identity) and no rank is poisoned by duplicates."""
    from triple_accel_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    dbl = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    qs = dbl.where(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
    corpus = dbl.where(F.col("vec_id") >= 8)
    ivf = ivf_topk(corpus, qs, k=5, n_centroids=16, n_probe=16,
                   assign_replicas=3)
    bf = brute_force_topk(corpus, qs, k=5)
    a = {(r.query_id, r.vec_id, r.rank) for r in ivf.collect()}
    b = {(r.query_id, r.vec_id, r.rank) for r in bf.collect()}
    assert a == b and len(a) == 40


def test_ivf_replicated_recall_not_below_single(spark):
    """Multi-assignment can only ADD candidates, so recall@k at fixed
    (n_centroids, n_probe) must be >= the single-assignment recall
    (the r5 recall lever; measured +0.18 at replicas=2 on the
    near-uniform testdata)."""
    from triple_accel_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    dbl = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    qs = dbl.where(F.col("vec_id") < 40).withColumnRenamed("vec_id", "query_id")
    corpus = dbl.where(F.col("vec_id") >= 40)
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(corpus, qs, k=10).collect()}

    def rec(replicas):
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(corpus, qs, k=10, n_centroids=32, n_probe=8,
                              assign_replicas=replicas).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2 = rec(1), rec(2)
    assert r2 >= r1


def test_bag_l1_skewed_batch_matches_core():
    """The length-skewed chunked path of ``bag_l1`` (per-chunk width
    trim + scatter-back, multiple chunks) must be value-identical to
    the single-pass core on zero-padded encode_batch output (ADVICE
    r4: direct lev_batch callers are not chunk-sorted, so one long row
    amplified the transient int64 footprint to O(n x max_len))."""
    import numpy as np

    from triple_accel_spark.kernels.encode import (
        _bag_l1_core,
        bag_l1,
        encode_batch,
    )

    rng = np.random.RandomState(7)
    rows_a, rows_b = [], []
    for i in range(5000):  # > one 4096 chunk -> scatter-back order matters
        la = 3000 if i == 0 else int(rng.randint(1, 20))
        lb = 2800 if i == 0 else int(rng.randint(1, 20))
        rows_a.append(bytes(rng.randint(32, 127, la, dtype=np.uint8).tobytes()))
        rows_b.append(bytes(rng.randint(32, 127, lb, dtype=np.uint8).tobytes()))
    am, al, _ = encode_batch(rows_a)
    bm, bl, _ = encode_batch(rows_b)
    got = bag_l1(am, al, bm, bl)
    ref = _bag_l1_core(am, al, bm, bl)
    assert (got == ref).all()


def test_stream_assign_boundary_pair_assigned(spark, tmp_path):
    """A pair whose similarity lands EXACTLY on the threshold must be
    assigned to the representative, not pre-rejected by the per-pair k
    bound (ADVICE r4: ceil rounding mirrors relative_k_col). 20-char
    docs, 2 substitutions past the block prefix, thr=0.9 -> sim = 0.9
    exactly."""
    from triple_accel_spark.streaming.incremental import stream_assign_clusters

    rows = [
        ("c000001", "abcdefghijklmnopqrst", "abcdefghijkl"),
        ("d000001", "abcdefghijklmnopXYst", "abcdefghijkl"),
    ]
    blocked = spark.createDataFrame(
        rows, "conv_id string, doc string, block_key string"
    )
    src = str(tmp_path / "boundary")
    blocked.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, doc string, block_key string"
    ).parquet(src)
    assigned = stream_assign_clusters(stream, sim_threshold=0.9)
    q = (
        assigned.writeStream.format("memory")
        .queryName("boundary_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    import time as _time

    deadline = _time.time() + 180
    while _time.time() < deadline:
        if spark.sql(
            "select count(*) from boundary_stream"
        ).collect()[0][0] >= 2:
            break
        _time.sleep(1)
    q.stop()
    q.awaitTermination(60)
    got = {
        r.conv_id: (r.cluster_id, r.sim)
        for r in spark.sql("select * from boundary_stream").collect()
    }
    assert got["c000001"][0] == "c000001"
    # the boundary pair: distance 2, sim exactly 0.9 >= 0.9 -> inherits
    assert got["d000001"][0] == "c000001"
    assert got["d000001"][1] == pytest.approx(0.9)


def test_jaro_winkler_textbook_vectors():
    from triple_accel_spark.kernels.jaro import jaro_batch, jaro_scalar

    import numpy as np

    cases = [
        (b"MARTHA", b"MARHTA", 0.9444444444444445, 0.9611111111111111),
        (b"DIXON", b"DICKSONX", 0.7666666666666666, 0.8133333333333332),
        (b"JELLYFISH", b"SMELLYFISH", 0.8962962962962964, 0.8962962962962964),
        (b"", b"abc", 0.0, 0.0),
        (b"", b"", 0.0, 0.0),  # DuckDB convention, adopted
        (b"a", b"a", 1.0, 1.0),
        (b"ab", b"ba", 0.0, 0.0),  # window 0: no cross-position match
        # prefix boost capped at 4 even with a 5-char common prefix
        (b"ABCDEF", b"ABCDEZ", 0.888888888888889, 0.9333333333333333),
    ]
    a = np.array([c[0] for c in cases], dtype=object)
    b = np.array([c[1] for c in cases], dtype=object)
    j, jw, ok = jaro_batch(a, b)
    assert ok.all()
    for i, (ca, cb, ej, ejw) in enumerate(cases):
        assert repr(j[i]) == repr(ej), (ca, cb, j[i], ej)
        assert repr(jw[i]) == repr(ejw)
        sj, sjw = jaro_scalar(ca, cb)
        assert repr(sj) == repr(ej) and repr(sjw) == repr(ejw)


def test_jaro_and_dl_batch_match_scalar_random():
    """Batch kernels == scalar oracles bit-for-bit over random pairs,
    including empties and a long outlier that forces the length-sorted
    chunk + scatter-back path."""
    import numpy as np

    from triple_accel_spark.kernels.damerau import dl_batch, dl_scalar
    from triple_accel_spark.kernels.jaro import jaro_batch, jaro_scalar

    rng = np.random.RandomState(11)
    rows_a, rows_b = [b"x" * 400], [b"y" * 380]  # chunk-splitting outlier
    for _ in range(400):
        la, lb = int(rng.randint(0, 30)), int(rng.randint(0, 30))
        rows_a.append(bytes(rng.randint(97, 105, la, dtype=np.uint8).tobytes()))
        rows_b.append(bytes(rng.randint(97, 105, lb, dtype=np.uint8).tobytes()))
    a = np.array(rows_a, dtype=object)
    b = np.array(rows_b, dtype=object)
    j, jw, ok = jaro_batch(a, b)
    d, okd = dl_batch(a, b)
    assert ok.all() and okd.all()
    for i in range(len(rows_a)):
        sj, sjw = jaro_scalar(rows_a[i], rows_b[i])
        assert repr(j[i]) == repr(sj) and repr(jw[i]) == repr(sjw)
        assert d[i] == dl_scalar(rows_a[i], rows_b[i])


def test_unrestricted_dl_below_osa_on_edited_transposition():
    """'CA' -> 'ABC' is the canonical unrestricted-vs-OSA separator:
    full DL = 2 (transpose CA->AC, then insert B INSIDE the transposed
    pair — legal only in the unrestricted distance), OSA = 3."""
    import numpy as np

    from triple_accel_spark.kernels.banded import lev_batch
    from triple_accel_spark.kernels.costs import RDAMERAU_COSTS
    from triple_accel_spark.kernels.damerau import dl_batch, dl_scalar

    a = np.array([b"CA"], dtype=object)
    b = np.array([b"ABC"], dtype=object)
    d, ok = dl_batch(a, b)
    assert ok[0] and d[0] == 2
    assert dl_scalar(b"CA", b"ABC") == 2
    osa, ok2, _ = lev_batch(a, b, None, RDAMERAU_COSTS)
    assert ok2[0] and osa[0] == 3


def test_jaro_winkler_dl_columns_null_policy(spark):
    from triple_accel_spark.functions import (
        damerau_levenshtein,
        jaro_winkler,
    )

    df = spark.createDataFrame(
        [(1, "MARTHA", "MARHTA"), (2, None, "x"), (3, "x", None)],
        ["id", "a", "b"],
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            jaro_winkler("a", "b").alias("jw"),
            damerau_levenshtein("a", "b").alias("ddl"),
        ).collect()
    }
    assert repr(rows[1]["jw"]) == repr(0.9611111111111111)
    assert rows[1]["ddl"] == 1
    assert rows[2]["jw"] is None and rows[2]["ddl"] is None
    assert rows[3]["jw"] is None and rows[3]["ddl"] is None


def test_jw_length_bound_sound():
    """The length-ratio prune must NEVER drop a pair whose true JW
    reaches the threshold (soundness; completeness is not claimed)."""
    import numpy as np

    from triple_accel_spark.kernels.jaro import jaro_scalar

    rng = np.random.RandomState(3)
    for _ in range(3000):
        la, lb = int(rng.randint(0, 25)), int(rng.randint(0, 25))
        a = bytes(rng.randint(97, 101, la, dtype=np.uint8).tobytes())
        b = bytes(rng.randint(97, 101, lb, dtype=np.uint8).tobytes())
        _, jw = jaro_scalar(a, b)
        for thr in (0.82, 0.9, 0.95):
            r = min(la, lb) / max(la, lb, 1)
            pruned = r < 5.0 * thr - 4.0 - 1e-9
            if pruned:
                assert jw < thr, (a, b, jw, thr)


def test_jw_length_bound_sound_multibyte(spark):
    """Round-6 (ADVICE r5): the bound must be computed in BYTE units,
    the units the kernel scores. 'ααααα' vs 'ααααα'+'x'*10 has byte-JW
    exactly 0.9 but CHAR length ratio 5/15 = 0.33 < 0.5; a char-based
    bound at threshold 0.9 wrongly pruned it."""
    from triple_accel_spark.functions import jaro_winkler, jw_length_bound
    from triple_accel_spark.kernels.jaro import jaro_scalar

    a, b = "ααααα", "ααααα" + "x" * 10
    _, jw = jaro_scalar(a.encode(), b.encode())
    assert abs(jw - 0.9) < 1e-12
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    rows = df.select(
        jw_length_bound("a", "b", 0.9).alias("kept"),
        jaro_winkler("a", "b").alias("jw"),
    ).collect()
    # byte ratio 10/20 = 0.5 >= 5*0.9-4: the pair must survive the prune
    assert rows[0]["kept"] is True
    assert abs(rows[0]["jw"] - 0.9) < 1e-12


def test_link_records_jaro_winkler_scorer(spark):
    """Two-table linkage under the JW scorer: sims equal the scalar
    comparator, dist is NULL, and the best-per-right assignment picks
    the JW-max partner deterministically."""
    from triple_accel_spark.kernels.jaro import jaro_scalar
    from triple_accel_spark.operators.linkage import LinkConfig, link_records

    left = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "jonathon smith"), (3, "martha jones")],
        ["id", "text"],
    )
    right = spark.createDataFrame(
        [(10, "jonathan smith jr"), (11, "marhta jones")], ["id", "text"]
    )
    cfg = LinkConfig(
        blocking="prefix", prefix_len=2, sim_threshold=0.8,
        scorer="jaro_winkler",
    )
    res = link_records(left, right, cfg=cfg)
    texts = {1: "jonathan smith", 2: "jonathon smith", 3: "martha jones",
             10: "jonathan smith jr", 11: "marhta jones"}
    for row in res.pairs_scored.collect():
        _, exp = jaro_scalar(
            texts[row["id_l"]].encode(), texts[row["id_r"]].encode()
        )
        assert repr(row["sim"]) == repr(exp)
        assert row["dist"] is None
    best = {r["id_r"]: r["id_l"] for r in res.best.collect()}
    # 10 blocks with 1 and 2 ("jo"); jw(jonathan smith, ...jr) >
    # jw(jonathon smith, ...jr); 11 blocks with 3 ("ma")
    assert best[10] == 1
    assert best[11] == 3
    res.unpersist()


def test_dl_metric_axioms_and_bounds():
    """Unrestricted DL is a true metric (unlike OSA): identity,
    symmetry, triangle inequality; and it is sandwiched between the
    length difference and plain Levenshtein."""
    import numpy as np

    from triple_accel_spark.kernels.damerau import dl_scalar
    from triple_accel_spark.kernels.myers import myers_batch

    rng = np.random.RandomState(23)
    strs = [
        bytes(rng.randint(97, 100, int(rng.randint(0, 9)), dtype=np.uint8).tobytes())
        for _ in range(60)
    ]
    import itertools

    for a, b, c in itertools.islice(itertools.combinations(strs, 3), 1500):
        dab = dl_scalar(a, b)
        assert dab == dl_scalar(b, a)
        assert dl_scalar(a, a) == 0
        assert dab >= abs(len(a) - len(b))
        lev, ok = myers_batch(
            np.array([a], dtype=object), np.array([b], dtype=object), None
        )
        assert ok[0] and dab <= lev[0]
        assert dab <= dl_scalar(a, c) + dl_scalar(c, b)
