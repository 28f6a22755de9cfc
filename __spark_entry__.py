"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship ER chain on sf0.001 documents.
``queries()``    — one entry per implemented operator (SURVEY.md §2 +
                   training-data ops); each callable takes
                   ``(spark, sf_dir)`` and returns a DataFrame.
``oracle_sql()`` — DuckDB-runnable ANSI SQL equivalents. Where DuckDB
                   cannot express an operator directly, a PLANTED
                   construction oracles the same code path exactly
                   (OSA via isolated substitutions where transpositions
                   provably never help; affine gaps via a single
                   deleted block; codepoint distance via bijective
                   substitution invariance; sketches via an md5 gram
                   hash both engines share bit-for-bit; semi-global
                   search via min-over-window levenshtein/hamming; the
                   transcript pipeline via a corpus derived from the
                   documents table and replayed in SQL end to end).
                   The few remaining rows-only entries (true xxhash64
                   fingerprints, approximate LSH top-k, the seeded
                   synthetic corpus, opaque synthetic media) each say
                   why, each have a hash-verified sibling, and are
                   covered by ported-reference pytest oracles
                   (tests/test_kernels_vectors.py).

Column names and dtypes are aligned pairwise: integers surface as
bigint, ratios as IEEE doubles computed with the same operation order
in both engines so value hashes agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from triple_accel_spark.functions import (
    damerau_levenshtein,
    edit_distance,
    edit_search,
    hamming,
    hamming_search,
    jaro_sim,
    jaro_winkler,
    rdamerau,
)
from triple_accel_spark.kernels.costs import EditCosts
from triple_accel_spark.operators.blocking import with_prefix_blocks
from triple_accel_spark.operators.clustering import (
    attach_singletons,
    connected_components,
)
from triple_accel_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_duplicates,
    with_simhash,
)
from triple_accel_spark.operators.pairs import candidate_pairs
from triple_accel_spark.operators.scoring import score_pairs
from triple_accel_spark.operators.similarity import brute_force_topk, lsh_topk
from triple_accel_spark.operators.text import (
    lang_id,
    quality_features,
    token_count,
    with_fingerprint,
)

# ---------------------------------------------------------------- helpers

ER_PREFIX = 12  # normalized-prefix blocking key length for the doc ER chain
ER_K = 120  # edit-distance budget
ER_TAU = 0.8  # match threshold on normalized similarity


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _adjacent_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pair frame: consecutive doc_ids."""
    d = _docs(spark, sf_dir)
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = d.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b"),
                 F.col("text").alias("text_b"))
    return a.join(b, "id_a").select("id_a", "id_b", "text_a", "text_b")


_ADJ_SQL = (
    "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1"
)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic near-duplicate corpus: docs (id < 300) plus a
    1-char-substituted copy of every 4th doc at id+1,000,000. The exact
    O(n^2) q-gram Jaccard over this corpus is DuckDB-expressible, so
    the LSH dedup operators get a hard hash oracle (recall over the
    planted pairs is provably 1.0 at the chosen band settings — the
    driver compare enforces it)."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select("doc_id", "text")
    mut = d.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 49), F.lit("~"), F.expr("substring(text, 51)")
        ).alias("text"),
    )
    return d.union(mut)


_DUP_CORPUS_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, 49) || '~' || substr(text, 51)
  FROM documents WHERE doc_id < 300 AND doc_id % 4 = 0
"""

# exact q=5-gram Jaccard edges over the dup corpus (grams on the same
# normalized text as operators.blocking.normalized_text; the division
# is written inter / (|A| + |B| - inter) in this exact order to match
# the engine's array-free verification bit-for-bit)
_DUP_EDGES_SQL = f"""
  WITH corpus AS ({_DUP_CORPUS_SQL}),
  g AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN length(nt) >= 5
                  THEN list_transform(range(1, length(nt) - 3),
                                      i -> substr(nt, i::INT, 5))
                  ELSE [substr(nt, 1, 5)] END) AS gs
    FROM (SELECT doc_id,
                 lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
          FROM corpus)
  ),
  pre AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           length(list_intersect(a.gs, b.gs)) AS i,
           length(a.gs) AS na, length(b.gs) AS nb
    FROM g a JOIN g b ON a.doc_id < b.doc_id
  )
  SELECT id_a, id_b,
         i::DOUBLE / (na + nb - i)::DOUBLE AS jaccard
  FROM pre WHERE i::DOUBLE / (na + nb - i)::DOUBLE >= 0.8::DOUBLE
"""


# exact O(n^2) Hamming-<=3 edges over md5-gram simhashes recomputed
# from scratch on the dup corpus; equals the banded simhash operator's
# output because pigeonhole recall is structurally 1.0
_SIMHASH_EDGES_SQL = f"""
  WITH corpus AS ({_DUP_CORPUS_SQL}),
  nt AS (
    SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
    FROM corpus
  ),
  g AS (
    SELECT doc_id,
           ('0x' || substr(md5(substr(t, i::INT, 4)), 1, 15))::BIGINT AS h
    FROM nt JOIN range(1, 4096) r(i)
      ON r.i <= greatest(length(t) - 3, 1)
  ),
  s AS (
    SELECT doc_id,
           {", ".join(f"sum(CASE WHEN h & {1 << b} != 0 THEN 1 ELSE -1 END) AS s{b}" for b in range(60))}
    FROM g GROUP BY doc_id
  ),
  sh AS (
    SELECT doc_id,
           ({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END" for b in range(60))}) AS v
    FROM s
  )
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.v, b.v)) AS hamming
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.v, b.v)) <= 3
"""


def _link_right_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RIGHT table for the two-table linkage queries:
    every even doc re-appears at id+1,000,000 with one char deleted at
    position 40 (past the 12-char normalized blocking prefix, so the
    planted pair stays co-blocked; DuckDB rebuilds the identical
    table in SQL)."""
    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 2 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("id"),
            F.concat(
                F.substring("text", 1, 39), F.expr("substring(text, 41)")
            ).alias("text"),
        )
    )


_LINK_RIGHT_SQL = """
  SELECT doc_id + 1000000 AS id_r,
         substr(text, 1, 39) || substr(text, 41) AS text
  FROM documents WHERE doc_id % 2 = 0
"""

# two-table linkage pairs: prefix-block equality join, levenshtein
# scoring, match threshold — the SQL replay of link_records' chain
_LINK_PAIR_SQL = f"""
SELECT l.doc_id AS id_l, r.id_r AS id_r,
       levenshtein(l.text, r.text) AS dist,
       1.0::DOUBLE - levenshtein(l.text, r.text)::DOUBLE
           / greatest(length(l.text), length(r.text), 1)::DOUBLE AS sim
FROM documents l JOIN ({_LINK_RIGHT_SQL}) r
  ON substr(lower(regexp_replace(l.text, '\\s+', ' ', 'g')), 1, {ER_PREFIX})
   = substr(lower(regexp_replace(r.text, '\\s+', ' ', 'g')), 1, {ER_PREFIX})
WHERE 1.0::DOUBLE - levenshtein(l.text, r.text)::DOUBLE
          / greatest(length(l.text), length(r.text), 1)::DOUBLE
      >= {ER_TAU}::DOUBLE
"""


def _transcripts_from_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule-shaped transcript table derived DETERMINISTICALLY
    from the documents parquet (so DuckDB can rebuild the identical
    corpus in SQL): every doc becomes a 3-turn conversation
    ``c<doc_id>``; every 3rd doc additionally yields a near-duplicate
    conversation ``d<doc_id>`` with one substituted character (inside
    turn 3, so prefix blocking is unaffected)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = F.concat(
        F.substring("text", 1, 44), F.lit("Q"), F.expr("substring(text, 46)")
    )
    base = d.select(
        F.concat(F.lit("c"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        F.col("text"),
    ).union(
        d.where(F.col("doc_id") % 3 == 0).select(
            F.concat(F.lit("d"), F.lpad(F.col("doc_id").cast("string"), 8, "0")),
            mut,
        )
    )
    turn = F.explode(
        F.array(
            F.struct(F.lit(1).alias("turn_idx"), F.substring("text", 1, 20).alias("t")),
            F.struct(F.lit(2).alias("turn_idx"), F.substring("text", 21, 20).alias("t")),
            F.struct(
                F.lit(3).alias("turn_idx"), F.expr("substring(text, 41)").alias("t")
            ),
        )
    ).alias("turn")
    return base.select("conv_id", turn).select(
        "conv_id",
        F.col("turn.turn_idx").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("turn.t").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


ER_T_TAU = 0.9  # transcript-pipeline match threshold
ER_T_PREFIX = 16

# the same corpus + full chain (assembly -> prefix blocks -> levenshtein
# similarity) in DuckDB; produces the match edges the clustering /F1
# oracles build on
_TRANSCRIPT_MATCH_SQL = f"""
  WITH base AS (
    SELECT 'c' || lpad(doc_id::VARCHAR, 8, '0') AS conv_id, text FROM documents
    UNION ALL
    SELECT 'd' || lpad(doc_id::VARCHAR, 8, '0'),
           substr(text, 1, 44) || 'Q' || substr(text, 46)
    FROM documents WHERE doc_id % 3 = 0
  ),
  turns AS (
    SELECT conv_id, 1 AS turn_idx, substr(text, 1, 20) AS t FROM base
    UNION ALL SELECT conv_id, 2, substr(text, 21, 20) FROM base
    UNION ALL SELECT conv_id, 3, substr(text, 41) FROM base
  ),
  docs AS (
    SELECT conv_id, string_agg(t, chr(31) ORDER BY turn_idx) AS doc
    FROM turns GROUP BY conv_id
  ),
  m AS (
    SELECT a.conv_id AS id_a, b.conv_id AS id_b
    FROM docs a JOIN docs b
      ON substr(lower(regexp_replace(a.doc, '\\s+', ' ', 'g')), 1, {ER_T_PREFIX})
       = substr(lower(regexp_replace(b.doc, '\\s+', ' ', 'g')), 1, {ER_T_PREFIX})
     AND a.conv_id < b.conv_id
    WHERE 1.0::DOUBLE - levenshtein(a.doc, b.doc)::DOUBLE
            / greatest(length(a.doc), length(b.doc), 1)::DOUBLE >= {ER_T_TAU}::DOUBLE
  )
"""


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table reshaped to the transcript input schema
    (conv_id, turn_idx, text): real testdata driving the doc-assembly
    operator with a DuckDB-checkable ordering oracle."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("props").alias("text"),
    )


def _doc_er_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking -> candidate self-join -> k-cutoff -> vectorized scoring:
    the pipeline chain over the real documents table."""
    blocked = with_prefix_blocks(_docs(spark, sf_dir), "text", prefix_len=ER_PREFIX)
    pairs = candidate_pairs(
        blocked, id_col="doc_id", block_col="block_key", payload_cols=("text",),
        max_block_size=None,
    )
    scored = score_pairs(pairs, "text_a", "text_b", k=ER_K)
    return scored.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("dist").cast("long").alias("dist"),
        F.col("sim"),
        (F.col("sim") >= ER_TAU).alias("is_match"),
    )


_DOC_ER_PAIR_SQL = f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.text, b.text) AS dist,
       1.0::DOUBLE - levenshtein(a.text, b.text)::DOUBLE
           / greatest(length(a.text), length(b.text), 1)::DOUBLE AS sim
FROM documents a JOIN documents b
  ON substr(lower(regexp_replace(a.text, '\\s+', ' ', 'g')), 1, {ER_PREFIX})
   = substr(lower(regexp_replace(b.text, '\\s+', ' ', 'g')), 1, {ER_PREFIX})
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {ER_K}
"""


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: document ER chain (block -> pair -> score -> cluster)
    on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    matches = _doc_er_matches(spark, sf_dir).where(F.col("is_match"))
    labels = connected_components(matches.select("id_a", "id_b"))
    docs = _docs(spark, sf_dir)
    clusters = attach_singletons(labels, docs, "doc_id")
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.join(sizes, "cluster_id").select("id", "cluster_id", "cluster_size")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def doc_assembly(spark, sf_dir):
        from triple_accel_spark.operators.assemble import assemble_documents

        t = _events_as_transcripts(spark, sf_dir)
        d = assemble_documents(t)
        return d.select(
            "conv_id", "doc",
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("doc_len").cast("long").alias("doc_len"),
        )

    def lev_adjacent(spark, sf_dir):
        p = _adjacent_doc_pairs(spark, sf_dir)
        return p.select(
            "id_a", "id_b",
            edit_distance("text_a", "text_b").cast("long").alias("dist"),
            F.levenshtein("text_a", "text_b").cast("long").alias("dist_builtin"),
        )

    def lev_k_col_adjacent(spark, sf_dir):
        # k-bounded kernel both ways in one frame: a fixed scalar k
        # (the reference's levenshtein_simd_k call shape) AND per-PAIR
        # k as a Column (kernels take the cutoff as an ndarray) — NULL
        # above the pair's budget. Folded from the former
        # lev_k_adjacent sibling so both stay driver-verified within
        # the registry budget.
        p = _adjacent_doc_pairs(spark, sf_dir)
        kcol = (
            F.abs(F.length("text_a") - F.length("text_b")) + F.lit(20)
        ).cast("int")
        return p.select(
            "id_a", "id_b",
            edit_distance("text_a", "text_b", k=40).cast("long").alias("dist_k40"),
            kcol.cast("long").alias("k_pair"),
            edit_distance("text_a", "text_b", k=kcol).cast("long").alias("dist_kc"),
        )

    def lev_unicode(spark, sf_dir):
        # codepoint (unicode=True) scoring via the per-pair dictionary
        # adapter (reference translate_str, levenshtein.rs:609-651);
        # DuckDB levenshtein is codepoint-based, so it oracles this
        # directly on a derived non-ASCII column
        p = _adjacent_doc_pairs(spark, sf_dir)
        ta = F.translate("text_a", "aeiou", "äéîøü")
        tb = F.translate("text_b", "aeiou", "äéîøü")
        return p.select(
            "id_a", "id_b",
            edit_distance(ta, tb, unicode=True).cast("long").alias("dist"),
        )

    def edit_costs_scaled(spark, sf_dir):
        # uniformly doubled costs leave the optimal alignment unchanged
        # and exactly double the distance -> the generalized banded DP
        # kernel (non-unit path) gets a DuckDB oracle: 2*levenshtein
        p = _adjacent_doc_pairs(spark, sf_dir)
        costs = EditCosts(mismatch_cost=2, gap_cost=2)
        return p.select(
            "id_a", "id_b",
            edit_distance("text_a", "text_b", k=80, costs=costs)
            .cast("long").alias("dist2"),
        )

    def hamming_fixed(spark, sf_dir):
        p = _adjacent_doc_pairs(spark, sf_dir)
        fa = F.rpad(F.substring("text_a", 1, 40), 40, "x")
        fb = F.rpad(F.substring("text_b", 1, 40), 40, "x")
        return p.select(
            "id_a", "id_b", hamming(fa, fb).cast("long").alias("dist")
        )

    def rdamerau_planted(spark, sf_dir):
        # The OSA kernel's two provable planted constructions in ONE
        # frame (folded from the former rdamerau_planted /
        # rdamerau_swapped_planted siblings; full-length texts in
        # both; the natural-pair CTE sibling covers arbitrary text).
        # dist_subst — chars at isolated positions 10/20/30 substituted:
        # runs between edits are long and no two diffs are adjacent,
        # so neither shifts nor transpositions can beat plain
        # substitutions and OSA == Levenshtein provably.
        # dist_swapped — the TRANSPOSE recurrence: adjacent char pairs
        # at (10,11), (30,31), (50,51) swapped, each flanked by >= 17
        # unchanged chars, so each block costs min(1 transposition,
        # 2 substitutions) in BOTH OSA and unrestricted DL and DuckDB's
        # damerau_levenshtein (full DL) hash-oracles the OSA kernel
        # (kernels/banded.py; reference levenshtein.rs:233-248,
        # 1070-1098) with nonzero transposition contributions on
        # nearly every row.
        d = _docs(spark, sf_dir)
        mut = F.concat(
            F.substring("text", 1, 9), F.lit("#"),
            F.substring("text", 11, 9), F.lit("#"),
            F.substring("text", 21, 9), F.lit("#"),
            F.expr("substring(text, 31)"),
        )
        swapped = F.concat(
            F.substring("text", 1, 9),
            F.substring("text", 11, 1), F.substring("text", 10, 1),
            F.substring("text", 12, 18),
            F.substring("text", 31, 1), F.substring("text", 30, 1),
            F.substring("text", 32, 18),
            F.substring("text", 51, 1), F.substring("text", 50, 1),
            F.expr("substring(text, 52)"),
        )
        return d.select(
            "doc_id",
            rdamerau(F.col("text"), mut).cast("long").alias("dist_subst"),
            rdamerau(F.col("text"), swapped).cast("long").alias("dist_swapped"),
        )

    def lev_binary_adjacent(spark, sf_dir):
        # the BinaryType input path (the reference's native byte
        # semantics, lib.rs:41-44): score encode(text) binary columns —
        # for ASCII corpora the byte distance equals DuckDB's
        # levenshtein over the source strings, so the binary code path
        # (Arrow bytes -> encode_batch zero-copy) gets a hash oracle;
        # non-UTF8 payload behavior is pytest-oracled
        p = _adjacent_doc_pairs(spark, sf_dir)
        return p.select(
            "id_a", "id_b",
            edit_distance(
                F.encode("text_a", "utf-8"), F.encode("text_b", "utf-8")
            ).cast("long").alias("dist"),
        )

    def edit_costs_natural(spark, sf_dir):
        # the generalized affine-cost kernel on NATURAL pairs with a
        # hard DuckDB oracle: the full Gotoh DP (open = start_gap+gap,
        # extend = gap) is replayed in SQL as a recursive CTE over DP
        # rows carried as lists — the in-row gap recurrence uses the
        # same prefix-min identity as the kernel (banded.py:19-23), so
        # arbitrary EditCosts on real text are hash-verified, not just
        # the planted constructions. 30-char prefixes bound the SQL DP
        # (31 iterations x O(lb^2) list ops per pair).
        p = _adjacent_doc_pairs(spark, sf_dir)
        costs = EditCosts(mismatch_cost=3, gap_cost=2, start_gap_cost=1)
        return p.select(
            "id_a", "id_b",
            edit_distance(
                F.substring("text_a", 1, 30), F.substring("text_b", 1, 30),
                k=None, costs=costs,
            ).cast("long").alias("cost"),
        )

    def rdamerau_natural(spark, sf_dir):
        # restricted Damerau-Levenshtein (OSA) on NATURAL pairs with a
        # hard DuckDB oracle: DuckDB's damerau_levenshtein is the
        # UNRESTRICTED distance, so the oracle instead replays the OSA
        # recurrence itself as a recursive-CTE DP (same pattern as
        # edit_costs_natural; the transpose term reads the i-2 row
        # carried alongside the i-1 row). 30-char prefixes bound the
        # SQL DP; the planted siblings (rdamerau_planted /
        # _swapped_planted) keep covering full-length texts.
        p = _adjacent_doc_pairs(spark, sf_dir)
        return p.select(
            "id_a", "id_b",
            rdamerau(
                F.substring("text_a", 1, 30), F.substring("text_b", 1, 30)
            ).cast("long").alias("dist"),
        )

    def name_similarity_adjacent(spark, sf_dir):
        # the classic ER name-field comparators the reference lacks
        # (edit-family only): Jaro, Jaro-Winkler, and UNRESTRICTED
        # Damerau-Levenshtein, all on natural pairs with DuckDB's OWN
        # native functions as the oracle (jaro_similarity /
        # jaro_winkler_similarity / damerau_levenshtein — byte
        # semantics both sides; the double formula order is pinned in
        # kernels/jaro.py so repr() hashes agree bit-for-bit). 40-char
        # prefixes stand in for name-like short fields and bound the
        # full-DL DP cube.
        p = _adjacent_doc_pairs(spark, sf_dir)
        na = F.substring("text_a", 1, 40)
        nb = F.substring("text_b", 1, 40)
        return p.select(
            "id_a", "id_b",
            jaro_sim(na, nb).alias("jaro"),
            jaro_winkler(na, nb).alias("jw"),
            damerau_levenshtein(na, nb).cast("long").alias("ddl"),
        )

    def edit_costs_affine_planted(spark, sf_dir):
        # affine-gap path with a DuckDB oracle: delete a single block
        # of L = doc_id % 3 + 1 chars at position 11 — for long
        # unchanged runs the optimal alignment is exactly one gap run,
        # so cost = start_gap + L*gap = 1 + 3L provably (any alignment
        # with s substitutions and total gap length >= L costs more)
        d = _docs(spark, sf_dir)
        L = (F.col("doc_id") % 3 + 1).cast("int")
        cut = F.concat(
            F.substring("text", 1, 10),
            F.expr("substring(text, 11 + (doc_id % 3 + 1))"),
        )
        costs = EditCosts(mismatch_cost=2, gap_cost=3, start_gap_cost=1)
        return d.select(
            "doc_id",
            edit_distance(F.col("text"), cut, k=50, costs=costs)
            .cast("long").alias("cost"),
            (F.lit(1) + 3 * L).cast("long").alias("expected"),
        )

    def edit_traceback_adjacent(spark, sf_dir):
        # RLE edit scripts (reference Edit/EditType). For unit costs the
        # weighted edit count of an optimal traceback IS the Levenshtein
        # distance, so the script totals get a DuckDB oracle; run-level
        # golden-vector parity stays pytest-oracled.
        from triple_accel_spark.functions import edit_traceback

        p = _adjacent_doc_pairs(spark, sf_dir).where(F.col("id_a") < 50)
        t = p.select(
            "id_a", "id_b", edit_traceback("text_a", "text_b").alias("trace")
        )
        return t.select(
            "id_a", "id_b",
            F.aggregate(
                F.filter("trace", lambda e: e["edit"] != F.lit("match")),
                F.lit(0).cast("long"),
                lambda acc, e: acc + e["count"],
            ).alias("n_edits"),
        )

    def edit_traceback_natural(spark, sf_dir):
        # the RUN-LEVEL traceback oracle (edit_traceback_adjacent
        # verifies only the weighted edit total): the full RLE edit
        # script — op order AND run lengths — on natural 20-char
        # prefixes, one row per run, hash-verified against a DuckDB
        # replay of the kernel's own pointer walk. The DP argmin walk
        # is deterministic given the documented tie-break (reference
        # levenshtein.rs:211-247 naive / :493-532 k-bounded core;
        # kernels/banded.py: sub wins ties, a_gap strictly below,
        # b_gap strictly below, operands swapped so the pattern is
        # the shorter string with labels flipped back), so the oracle
        # rebuilds the identical pointer matrix row by row (unit-cost
        # reduction: a_gap = left+1, b_gap = up+1) and walks it with
        # the same priority rule.
        from triple_accel_spark.functions import edit_traceback

        p = _adjacent_doc_pairs(spark, sf_dir)
        t = p.select(
            "id_a", "id_b",
            edit_traceback(
                F.substring("text_a", 1, 20), F.substring("text_b", 1, 20)
            ).alias("trace"),
        )
        return t.select(
            "id_a", "id_b", F.posexplode("trace").alias("pos", "run")
        ).select(
            "id_a", "id_b",
            (F.col("pos") + 1).cast("long").alias("run_idx"),
            F.col("run.edit").alias("edit"),
            F.col("run.count").cast("long").alias("n"),
        )

    def edit_search_docs(spark, sf_dir):
        # semi-global fuzzy search, BOTH modes in one frame (folded
        # from the former edit_search_docs / edit_search_best_docs
        # siblings): plant the needle from the doc's own middle.
        # ``all`` mode: (end, cost) emissions are DuckDB-expressible
        # as min-over-window-lengths levenshtein (n_matches, min_k).
        # ``best`` mode (tightening threshold + overlap merge,
        # levenshtein.rs:1755-1838): every surviving match carries the
        # GLOBAL min cost (best_k). Match starts / Best-mode merge
        # quirks stay pytest-oracled per the ported vectors.
        d = _docs(spark, sf_dir)
        needle = F.substring("text", 21, 12)
        m = d.select(
            F.col("doc_id"),
            edit_search(needle, F.col("text"), k=2, search_type="all").alias("ms"),
            edit_search(needle, F.col("text"), k=2, search_type="best").alias("bs"),
        )
        return m.select(
            "doc_id",
            F.size("ms").cast("long").alias("n_matches"),
            F.array_min(F.transform("ms", lambda x: x["k"]))
            .cast("long").alias("min_k"),
            F.element_at("bs", 1)["k"].cast("long").alias("best_k"),
        )

    def hamming_search_docs(spark, sf_dir):
        # Best-mode sliding-window Hamming search: every min-cost window
        # position is kept (hamming.rs:123-143) — count and min are
        # DuckDB-expressible over all window positions
        d = _docs(spark, sf_dir)
        needle = F.substring("text", 21, 12)
        m = d.select(
            F.col("doc_id"),
            hamming_search(needle, F.col("text"), k=2, search_type="best").alias("ms"),
        )
        return m.select(
            "doc_id",
            F.size("ms").cast("long").alias("n_matches"),
            F.element_at("ms", 1)["k"].cast("long").alias("best_k"),
        )

    def exact_dedup_docs(spark, sf_dir):
        kept = dedup_exact(_docs(spark, sf_dir), "text", "doc_id")
        return kept.select("doc_id", F.md5("text").alias("digest"))

    def ngram_jaccard_adjacent(spark, sf_dir):
        from triple_accel_spark.operators.dedup import ngram_jaccard

        p = _adjacent_doc_pairs(spark, sf_dir)
        return ngram_jaccard(p, "text_a", "text_b", n=3).select(
            "id_a", "id_b", "jaccard"
        )

    def minhash_lsh_dups(spark, sf_dir):
        # planted-duplicate corpus -> the exact O(n^2) Jaccard cross
        # join is the DuckDB oracle; 16 bands x 2 hashes puts band
        # recall at threshold ~1-4e-8, so LSH must equal exact
        return minhash_lsh_duplicates(
            _dup_corpus(spark, sf_dir), "text", "doc_id",
            q=5, num_hashes=32, num_bands=16, jaccard_threshold=0.8,
        )

    def simhash_near_dups(spark, sf_dir):
        # SimHash bit-band LSH near-dup pairs on the planted corpus.
        # Recall is structurally 1.0 (pigeonhole: hamming <= 3 < 4
        # bands forces a shared untouched band), so the exact O(n^2)
        # Hamming filter over DuckDB-recomputed md5-gram simhashes is
        # a hard hash oracle for the whole operator.
        from triple_accel_spark.operators.dedup import simhash_near_duplicates

        return simhash_near_duplicates(
            _dup_corpus(spark, sf_dir), "text", "doc_id",
            q=4, max_hamming=3, n_bands=4, gram_hash="md5",
        )

    def dedup_near_docs(spark, sf_dir):
        from triple_accel_spark.operators.dedup import dedup_near

        kept = dedup_near(_dup_corpus(spark, sf_dir), "text", "doc_id",
                          q=5, num_hashes=32, num_bands=16,
                          jaccard_threshold=0.8)
        return kept.select("doc_id")

    def dedup_near_simhash_docs(spark, sf_dir):
        # the simhash-route dedup endpoint: bit-band edges (recall
        # structurally 1.0) -> CC -> min-id representative; DuckDB
        # replays edges + recursive-CTE clustering exactly
        from triple_accel_spark.operators.dedup import dedup_near

        kept = dedup_near(_dup_corpus(spark, sf_dir), "text", "doc_id",
                          q=4, method="simhash", max_hamming=3,
                          num_bands=4, gram_hash="md5")
        return kept.select("doc_id")

    def dedup_near_embedding_docs(spark, sf_dir):
        # the EMBEDDING route of the dedup endpoint (semantic near-dups:
        # sign-LSH candidates -> exact cosine edges -> CC -> min-id):
        # planted 0.5-scaled twins guarantee the candidate edges (same
        # buckets in every table), and at threshold 0.999 the exact
        # O(n^2) cosine filter finds exactly those pairs (the
        # embedding_dups precedent), so the recursive-CTE CC replay is
        # a hard hash oracle for the whole endpoint
        from triple_accel_spark.operators.dedup import dedup_near

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        twins = emb.where(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
        )
        corpus = emb.union(twins)
        kept = dedup_near(
            corpus, "embedding", "vec_id", method="embedding",
            cosine_threshold=0.999, n_planes=12,
        )
        return kept.select("vec_id")

    def sketch_xxhash_docs(spark, sf_dir):
        # BOTH single-pass sketches at production settings in one
        # frame (folded from the former simhash_docs /
        # fingerprint_docs siblings): explode + one combinable
        # aggregation each, bit-identical to the Column forms
        # (asserted in tests). xxhash64 has no DuckDB twin ->
        # rows-only; the md5 sibling below hash-verifies the LOGIC.
        d = _docs(spark, sf_dir)
        return with_simhash(d, "text", "doc_id").join(
            with_fingerprint(d, "text", "doc_id"), "doc_id"
        )

    def sketch_md5_docs(spark, sf_dir):
        # the same two sketch algorithms (simhash: explode -> 64
        # signed bit sums -> assemble; fingerprint: explode ->
        # combinable bit_xor) under the DuckDB-matchable md5 gram
        # hash, so both sketch LOGICS get a hard hash oracle (folded
        # from the former simhash_md5_docs / fingerprint_md5_docs)
        d = _docs(spark, sf_dir)
        return with_simhash(d, "text", "doc_id", gram_hash="md5").join(
            with_fingerprint(d, "text", "doc_id", gram_hash="md5"), "doc_id"
        )

    def token_stats(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return d.select(
            "doc_id",
            token_count("text", "whitespace").cast("long").alias("n_ws"),
            token_count("text", "regex").cast("long").alias("n_tok"),
        )

    def quality_scores(spark, sf_dir):
        q = quality_features(_docs(spark, sf_dir), "text")
        return q.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("n_words").cast("long").alias("n_words"),
            "alpha_ratio", "punct_ratio", "uniq_word_ratio", "mean_word_len",
            "quality_score",
        )

    def lang_id_docs(spark, sf_dir):
        # BOTH lang-ID forms in one frame (folded from the former
        # lang_id_docs / lang_id_scaled_docs siblings): the Column
        # form and the single-pass scale shape (explode + combinable
        # conditional counts; no interpreted HOFs) must produce
        # identical predictions — the oracle emits the same value for
        # both columns, so a divergence hash-fails.
        from triple_accel_spark.operators.text import with_lang_id

        d = _docs(spark, sf_dir)
        col_form = d.select("doc_id", lang_id("text").alias("lang_pred"))
        scaled = with_lang_id(d, "text", "doc_id", out_col="lang_pred_scaled")
        return col_form.join(scaled, "doc_id")

    def ann_topk(spark, sf_dir):
        # BOTH exact-cosine implementations in one frame (folded from
        # the former ann_topk / ann_topk_arrow siblings), tagged by a
        # method column. expr rows keep RAW doubles — the sequential
        # Column fold reproduces DuckDB's accumulation order
        # bit-for-bit; arrow rows (BLAS einsum over stacked float64
        # batches) round to 9 decimals because matmul's pairwise
        # summation differs from the sequential fold in the last ulp.
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dbl = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        qs = dbl.where(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
        corpus = dbl.where(F.col("vec_id") >= 10)
        te = brute_force_topk(corpus, qs, k=10, vec_impl="expr").select(
            F.lit("expr").alias("method"), "query_id", "vec_id",
            F.col("cosine"), F.col("rank").cast("long").alias("rank"),
        )
        ta = brute_force_topk(corpus, qs, k=10, vec_impl="arrow").select(
            F.lit("arrow").alias("method"), "query_id", "vec_id",
            F.round("cosine", 9).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
        return te.unionByName(ta)

    def ann_recall_rows(spark, sf_dir):
        # the two approximate ANN indexes at REALISTIC settings in one
        # frame (folded from the former ann_lsh / ann_ivf siblings),
        # tagged by a method column — approximate by design, so
        # rows-only; the planted/full-probe siblings hash-verify each
        # operator's machinery, recall itself is recorded as data in
        # the bench artifact (ann_recall)
        from triple_accel_spark.operators.similarity import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dbl = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        qs = dbl.where(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
        corpus = dbl.where(F.col("vec_id") >= 10)
        lsh = lsh_topk(corpus, qs, k=10).select(
            F.lit("lsh").alias("method"), "query_id", "vec_id", "cosine", "rank"
        )
        ivf = ivf_topk(corpus, qs, k=10, n_centroids=32, n_probe=8).select(
            F.lit("ivf").alias("method"), "query_id", "vec_id", "cosine", "rank"
        )
        return lsh.unionByName(ivf)

    def ann_ivf_fullprobe(spark, sf_dir):
        # probing every centroid makes the candidate set the whole
        # corpus, so the IVF machinery (codebook, assignment matmul,
        # probe-list bucket join, salted top-k) must reproduce the
        # exact brute-force result — a hard hash oracle for the
        # operator's plumbing
        from triple_accel_spark.operators.similarity import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dbl = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        qs = dbl.where(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
        corpus = dbl.where(F.col("vec_id") >= 10)
        top = ivf_topk(corpus, qs, k=10, n_centroids=16, n_probe=16)
        return top.select(
            "query_id", "vec_id", F.round("cosine", 9).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )

    def ann_ivf_planted(spark, sf_dir):
        # the twin construction for IVF at REALISTIC probe settings
        # (ann_ivf_fullprobe pins the plumbing; this pins partial-probe
        # routing): a 0.5-scaled twin L2-normalizes to the same unit
        # vector as its query, so its nearest codebook centroid is
        # IDENTICAL — the twin's bucket is always among the query's
        # probed buckets for any n_probe >= 1, and its cosine (exactly
        # 1.0) wins rank 1 provably. DuckDB replays the exact top-1.
        from triple_accel_spark.operators.similarity import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dbl = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        qs = dbl.where(F.col("vec_id") < 50).withColumnRenamed(
            "vec_id", "query_id"
        )
        twins = qs.select(
            (F.col("query_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
        )
        corpus = dbl.where(F.col("vec_id") >= 50).union(twins)
        top = ivf_topk(corpus, qs, k=1, n_centroids=32, n_probe=4)
        return top.select(
            "query_id", "vec_id", F.round("cosine", 9).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )

    def ann_lsh_planted(spark, sf_dir):
        # a HARD hash oracle through lsh_topk's own plan (multitable
        # stacked-matmul buckets -> bucket equi-join -> exact cosine ->
        # salted rank): plant a 0.5-scaled twin of every query in the
        # corpus. A scaled vector has IDENTICAL sign-LSH buckets in
        # every table (sign(0.5·v·p) = sign(v·p)), so the twin is
        # structurally guaranteed into the candidate set; its cosine is
        # exactly 1.0, strictly above every other corpus vector (random
        # vectors are never parallel), so LSH top-1 == exact top-1
        # provably. DuckDB replays the exact top-1 over the same
        # corpus. (ann_lsh keeps realistic settings as the rows-only
        # recall query; this pins the operator's machinery.)
        from triple_accel_spark.operators.similarity import lsh_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dbl = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        qs = dbl.where(F.col("vec_id") < 50).withColumnRenamed(
            "vec_id", "query_id"
        )
        twins = qs.select(
            (F.col("query_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
        )
        corpus = dbl.where(F.col("vec_id") >= 50).union(twins)
        top = lsh_topk(corpus, qs, k=1, n_planes=8, n_tables=4)
        return top.select(
            "query_id", "vec_id", F.round("cosine", 9).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )

    def ann_allpairs(spark, sf_dir):
        # corpus x corpus top-k neighbor lists, exact baseline (the
        # recall yardstick for lsh_all_pairs_topk, which is
        # pytest-asserted >= 0.9 against this). Cosine rounded to 9
        # decimals for the cross-engine value hash (see embedding_dups)
        from triple_accel_spark.operators.similarity import (
            brute_force_all_pairs_topk,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        corpus = emb.where(F.col("vec_id") < 150).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        top = brute_force_all_pairs_topk(corpus, k=5, vec_impl="expr")
        return top.select(
            "query_id", "vec_id", F.round("cosine", 9).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )

    def embedding_dups(spark, sf_dir):
        # BOTH vector-math implementations of embedding near-dup
        # detection in one frame (folded from the former
        # embedding_dups / embedding_dups_arrow siblings), tagged by a
        # method column. The testdata embeddings have no near-dup
        # pairs (max pairwise cosine ~0.51), so plant deterministic
        # duplicates: scaled copies of vec_id < 50 (cosine exactly 1.0
        # to their source). Scaled copies share every hyperplane sign
        # bucket with their source under the Column fold AND under the
        # batched matmul (x0.5 is an exact IEEE scaling), so LSH
        # recall is exactly 1.0 on both paths and the exact cross-join
        # cosine in DuckDB is a hard oracle. Rounded to 9 decimals:
        # DuckDB's list_cosine_similarity accumulates in a slightly
        # different order, so raw doubles can differ in the last ulp
        # on exactly-parallel vectors.
        from triple_accel_spark.operators.dedup import embedding_near_duplicates

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dbl = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        dups = dbl.where(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
        )
        corpus = dbl.union(dups)
        outs = []
        for impl in ("expr", "arrow"):
            out = embedding_near_duplicates(corpus, "embedding", "vec_id",
                                            cosine_threshold=0.999,
                                            vec_impl=impl)
            outs.append(out.select(
                F.lit(impl).alias("method"), "id_a", "id_b",
                F.round("cosine", 9).alias("cosine"),
            ))
        return outs[0].unionByName(outs[1])

    def er_matches_docs(spark, sf_dir):
        return _doc_er_matches(spark, sf_dir)

    def er_clusters_docs(spark, sf_dir):
        matches = _doc_er_matches(spark, sf_dir).where(F.col("is_match"))
        labels = connected_components(matches.select("id_a", "id_b"))
        clusters = attach_singletons(labels, _docs(spark, sf_dir), "doc_id")
        return clusters.select(
            F.col("id").cast("long").alias("id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )

    def er_link_docs(spark, sf_dir):
        # TWO-TABLE record linkage (match incoming records against a
        # reference corpus): left = documents; right = a
        # deterministically perturbed copy of every even doc (one char
        # deleted at position 40 — past the normalized 12-char blocking
        # prefix) at id+1,000,000. Prefix blocking + levenshtein
        # scoring are SQL-expressible, so the full two-table chain
        # (block -> A x B candidate join -> k-prune -> vectorized
        # scoring -> threshold) gets a hard hash oracle.
        from triple_accel_spark.operators.linkage import LinkConfig, link_records

        left = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("id"), "text"
        )
        right = _link_right_docs(spark, sf_dir)
        res = link_records(
            left, right,
            cfg=LinkConfig(
                blocking="prefix", prefix_len=ER_PREFIX,
                sim_threshold=ER_TAU, max_block_pairs=None,
            ),
        )
        out = res.matches.select(
            F.col("id_l").cast("long").alias("id_l"),
            F.col("id_r").cast("long").alias("id_r"),
            F.col("dist").cast("long").alias("dist"),
            F.col("sim"),
        )
        return out

    def er_link_best_docs(spark, sf_dir):
        # the assignment stage: single best left partner per right
        # record, deterministic tie-break (sim desc, dist asc, id_l
        # asc) — replayed in DuckDB with the same window ordering
        from triple_accel_spark.operators.linkage import LinkConfig, link_records

        left = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("id"), "text"
        )
        right = _link_right_docs(spark, sf_dir)
        res = link_records(
            left, right,
            cfg=LinkConfig(
                blocking="prefix", prefix_len=ER_PREFIX,
                sim_threshold=ER_TAU, max_block_pairs=None,
            ),
        )
        return res.best.select(
            F.col("id_l").cast("long").alias("id_l"),
            F.col("id_r").cast("long").alias("id_r"),
            F.col("dist").cast("long").alias("dist"),
            F.col("sim"),
        )

    def blocking_quality_docs(spark, sf_dir):
        # the standard blocking diagnostics (pair completeness /
        # reduction ratio) over the two-table linkage corpus: truth =
        # the planted (doc, perturbed-doc) pairs, candidates = the
        # prefix-blocked A x B join — both SQL-expressible, so the
        # metric row is hash-verified including the ratio arithmetic
        from triple_accel_spark.operators.linkage import candidate_links
        from triple_accel_spark.operators.pairs import blocking_quality

        left = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"), "text")
        right = _link_right_docs(spark, sf_dir)
        n_l, n_r = left.count(), right.count()
        bl = with_prefix_blocks(left, "text", prefix_len=ER_PREFIX)
        br = with_prefix_blocks(right, "text", prefix_len=ER_PREFIX)
        cand = candidate_links(
            bl, br, id_col="id", payload_cols=(), max_block_pairs=None
        )
        truth = (
            _docs(spark, sf_dir)
            .where(F.col("doc_id") % 2 == 0)
            .select(
                F.col("doc_id").alias("id_l"),
                (F.col("doc_id") + 1_000_000).alias("id_r"),
            )
        )
        return blocking_quality(
            cand, truth, total_possible_pairs=n_l * n_r,
            id_a="id_l", id_b="id_r",
        )

    def er_assign_docs(spark, sf_dir):
        # INCREMENTAL cluster assignment (the batch twin of the
        # stateful streaming operator): cluster the documents table
        # with the ER chain, then batch-assign a deterministic set of
        # NEW records — perturbed copies (must inherit the source
        # doc's cluster) plus reversed texts (must open singleton
        # clusters, is_new=true). The whole chain — recursive-CTE
        # clustering, prefix-block linkage, best-match window,
        # fallback labeling — replays in DuckDB as a hash oracle.
        from triple_accel_spark.operators.linkage import (
            LinkConfig,
            assign_to_clusters,
        )

        docs = _docs(spark, sf_dir)
        matches = _doc_er_matches(spark, sf_dir).where(F.col("is_match"))
        labels = connected_components(matches.select("id_a", "id_b"))
        clusters = attach_singletons(labels, docs, "doc_id")
        clustered = clusters.select(
            F.col("id").cast("long").alias("id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        ).join(docs.select(F.col("doc_id").alias("id"), "text"), "id")
        new = _link_right_docs(spark, sf_dir).union(
            docs.where(F.col("doc_id") % 10 == 1).select(
                (F.col("doc_id") + 2_000_000).alias("id"),
                F.reverse("text").alias("text"),
            )
        )
        out = assign_to_clusters(
            clustered, new,
            cfg=LinkConfig(
                blocking="prefix", prefix_len=ER_PREFIX,
                sim_threshold=ER_TAU, max_block_pairs=None,
            ),
        )
        return out.select(
            F.col("id").cast("long").alias("id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("matched_id").cast("long").alias("matched_id"),
            F.col("dist").cast("long").alias("dist"),
            "sim", "is_new",
        )

    def er_bcubed_docs(spark, sf_dir):
        # B-cubed cluster evaluation in its exact per-overlap row form
        # (the global fold is a float sum whose ordering differs across
        # engines; each row here is int counts + one int/int division,
        # bit-identical): predicted = the ER chain's clusters, reference
        # = the normalized-prefix partition — i.e. "how much did
        # threshold scoring refine blocking", a real diagnostic
        from triple_accel_spark.operators.scoring import bcubed_rows

        docs = _docs(spark, sf_dir)
        matches = _doc_er_matches(spark, sf_dir).where(F.col("is_match"))
        labels = connected_components(matches.select("id_a", "id_b"))
        pred = attach_singletons(labels, docs, "doc_id").select(
            F.col("id").cast("long").alias("id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )
        pk = with_prefix_blocks(docs, "text", prefix_len=ER_PREFIX).select(
            F.col("doc_id").alias("id"), "block_key"
        )
        tmin = pk.groupBy("block_key").agg(F.min("id").alias("true_id"))
        truth = pk.join(tmin, "block_key").select("id", "true_id")
        return bcubed_rows(pred, truth).select(
            "cluster_id", "true_id", "n_ct", "n_c", "n_t",
            "p_contrib", "r_contrib",
        )

    def events_hourly(spark, sf_dir):
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        return (
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
            )
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type", "n", "min_v", "max_v",
            )
        )

    def er_transcripts_clusters(spark, sf_dir):
        # the FULL north-rule pipeline (assemble -> block -> pair ->
        # score -> cluster) over a transcript corpus derived
        # deterministically from the documents parquet, so DuckDB can
        # replay the whole chain (string_agg assembly, prefix blocks,
        # levenshtein similarity, recursive-CTE clustering) as a hard
        # hash oracle end to end
        from triple_accel_spark.pipeline import ResolveConfig, resolve_entities

        t = _transcripts_from_docs(spark, sf_dir)
        res = resolve_entities(
            t,
            ResolveConfig(
                blocking="prefix", prefix_len=ER_T_PREFIX,
                sim_threshold=ER_T_TAU, max_block_size=None,
            ),
        )
        return res.clusters

    def er_transcripts_f1(spark, sf_dir):
        # pairwise F1 of the transcript pipeline's matches against the
        # planted-duplicate ground truth (pairs (c<i>, d<i>)); with the
        # derived corpus both sides are DuckDB-computable
        from triple_accel_spark.operators.scoring import pairwise_f1
        from triple_accel_spark.pipeline import ResolveConfig, resolve_entities

        t = _transcripts_from_docs(spark, sf_dir)
        res = resolve_entities(
            t,
            ResolveConfig(
                blocking="prefix", prefix_len=ER_T_PREFIX,
                sim_threshold=ER_T_TAU, max_block_size=None,
            ),
        )
        d = _docs(spark, sf_dir).where(F.col("doc_id") % 3 == 0)
        truth = d.select(
            F.concat(F.lit("c"), F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .alias("id_a"),
            F.concat(F.lit("d"), F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .alias("id_b"),
        )
        m = pairwise_f1(res.matches, truth)
        return spark.createDataFrame(
            [(m["tp"], m["fp"], m["fn"], m["precision"], m["recall"], m["f1"])],
            "tp long, fp long, fn long, precision double, recall double, f1 double",
        )

    def er_transcripts_synth(spark, sf_dir):
        # the pipeline at its tuned defaults (minhash blocking) on the
        # seeded mutation-model corpus — rows-only (xxhash minhash keys
        # have no DuckDB twin); F1=1.0 at this budget is pytest-asserted
        from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
        from triple_accel_spark.sources.transcripts import generate_transcripts

        tdf, _ = generate_transcripts(n_entities=200, seed=42)
        t = spark.createDataFrame(tdf)
        res = resolve_entities(t, ResolveConfig(sim_threshold=0.88))
        return res.clusters

    # (the former media_features query — synth_media seeded binaries
    # through extract_features, rows-only — was folded out of the
    # registry in round 5: the same mapInPandas plumbing is
    # hash-verified by media_features_docs / media_feature_ppm, and
    # synth_media stays pytest-covered in tests/test_dataops.py)

    def media_features_docs(spark, sf_dir):
        # the same mapInPandas feature-extraction plumbing over a media
        # table derived from documents (content = the text's bytes), so
        # DuckDB can reconstruct the inputs and oracle the outputs —
        # media_features (seeded synthetic binaries) stays rows-only
        from triple_accel_spark.operators.multimodal import extract_features

        d = _docs(spark, sf_dir)
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("kind"),
            F.encode("text", "utf-8").alias("content"),
            F.lit("application/octet-stream").alias("mime"),
            F.lit(0).alias("width"), F.lit(0).alias("height"),
            F.lit(0).alias("duration_ms"),
        )
        feats = extract_features(media)
        return feats.select(
            "media_id", "kind",
            F.col("n_bytes").cast("long").alias("n_bytes"),
            F.size("feature").cast("long").alias("feat_dim"),
        )

    def media_decode_ppm(spark, sf_dir):
        # the REAL decode path, verified in-sandbox: every doc's text
        # becomes a binary PPM (width = len, height = 1, each char
        # tripled into an RGB pixel), decode_stats parses the header +
        # raster with the dependency-free P6 decoder, and DuckDB
        # recomputes the decoded-pixel stats from the same characters —
        # a hard hash oracle over decoded PIXELS, not byte fakes
        from triple_accel_spark.operators.multimodal import decode_stats

        # guard (both engines identically): the char->pixel construction
        # needs printable-ASCII, newline-free text (regexp '(.)' skips
        # line terminators; multi-byte chars break width=char-count vs
        # the byte-length raster) and length < 4096 (the oracle's
        # constant range join) — currently every synthetic doc passes,
        # but the query must not silently break if corpus generation
        # ever changes
        d = _docs(spark, sf_dir).where(
            F.col("text").rlike("^[ -~]*$") & (F.length("text") < 4096)
        )
        tripled = F.regexp_replace("text", "(.)", "$1$1$1")
        ppm = F.concat(
            F.lit("P6\n"), F.length("text").cast("string"),
            F.lit(" 1\n255\n"), tripled,
        )
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.encode(ppm, "utf-8").alias("content"),
        )
        return decode_stats(media)

    def corpus_cleanse_docs(spark, sf_dir):
        # the COMPOSITE training-corpus cleanse endpoint, hash-verified
        # end to end: validity -> quality threshold -> language filter
        # -> exact dedup -> near dedup, each stage one of the
        # independently-oracled operators, replayed as one SQL chain.
        # Input: the planted near-dup corpus (LSH recall provably 1.0
        # at these settings) PLUS byte-identical copies of docs < 50 at
        # id+2e6 so the exact-dedup stage also drops rows.
        from triple_accel_spark.operators.corpus import (
            CleanseConfig,
            prepare_training_corpus,
        )

        base = _dup_corpus(spark, sf_dir)
        exact_copies = base.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
        corpus = base.union(exact_copies)
        res = prepare_training_corpus(
            corpus,
            cfg=CleanseConfig(
                min_tokens=5, quality_threshold=0.88, langs=("en",),
                q=5, num_hashes=32, num_bands=16, jaccard_threshold=0.8,
            ),
        )
        return res.kept.select(
            "doc_id", "lang_pred",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality_score",
        )

    def media_feature_ppm(spark, sf_dir):
        # decode -> FEATURE end to end (media_decode_ppm covers decode
        # -> stats): the same synthesized PPM payloads run through
        # extract_features with the real decoder, emitting the folded
        # intensity histogram of the DECODED pixels as unnormalized
        # integer counts (exact in float32, so DuckDB recomputing the
        # bincount from the source chars hash-matches bit-for-bit;
        # each char becomes one (c,c,c) pixel => count = 3x the char
        # residue count). Rows are (media_id, idx, val) via posexplode
        # — the driver compare hashes scalars, not arrays.
        from triple_accel_spark.operators.multimodal import (
            extract_features,
            image_feature_real,
        )

        d = _docs(spark, sf_dir).where(
            F.col("text").rlike("^[ -~]*$") & (F.length("text") < 4096)
        )
        tripled = F.regexp_replace("text", "(.)", "$1$1$1")
        ppm = F.concat(
            F.lit("P6\n"), F.length("text").cast("string"),
            F.lit(" 1\n255\n"), tripled,
        )
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.encode(ppm, "utf-8").alias("content"),
        )
        feats = extract_features(
            media, decoder=lambda b: image_feature_real(b, normalize=False)
        )
        return feats.select(
            "media_id", F.posexplode(F.col("feature")).alias("idx", "val")
        ).select(
            "media_id", F.col("idx").cast("long").alias("idx"),
            F.col("val").cast("double").alias("val"),
        )

    # 49 entries (driver verifies at most the first 50 — round 4's
    # registry had 60 and the last 10 were silently unchecked).
    # Ordering: the rows that got no round-4 driver artifact come
    # FIRST (the three never-verified composites, then the r3-green
    # rows that fell off the end, then this round's new traceback
    # oracle), so a future registry overflow can never again drop the
    # newest, most integrative evidence.
    return {
        # -- never driver-verified before round 5
        "corpus_cleanse_docs": corpus_cleanse_docs,
        "er_bcubed_docs": er_bcubed_docs,
        "media_feature_ppm": media_feature_ppm,
        # -- r3-green rows dropped from the r4 artifact by the cap
        "er_transcripts_clusters": er_transcripts_clusters,
        "er_transcripts_f1": er_transcripts_f1,
        "er_transcripts_synth": er_transcripts_synth,
        "events_hourly": events_hourly,
        "media_features_docs": media_features_docs,
        "media_decode_ppm": media_decode_ppm,
        # -- new this round
        "edit_traceback_natural": edit_traceback_natural,
        "name_similarity_adjacent": name_similarity_adjacent,
        # -- the stable, every-round-green body
        "doc_assembly": doc_assembly,
        "lev_adjacent": lev_adjacent,
        "lev_k_col_adjacent": lev_k_col_adjacent,
        "lev_unicode": lev_unicode,
        "edit_costs_scaled": edit_costs_scaled,
        "hamming_fixed": hamming_fixed,
        "rdamerau_planted": rdamerau_planted,
        "lev_binary_adjacent": lev_binary_adjacent,
        "edit_costs_natural": edit_costs_natural,
        "rdamerau_natural": rdamerau_natural,
        "edit_costs_affine_planted": edit_costs_affine_planted,
        "edit_traceback_adjacent": edit_traceback_adjacent,
        "edit_search_docs": edit_search_docs,
        "hamming_search_docs": hamming_search_docs,
        "exact_dedup_docs": exact_dedup_docs,
        "ngram_jaccard_adjacent": ngram_jaccard_adjacent,
        "minhash_lsh_dups": minhash_lsh_dups,
        "simhash_near_dups": simhash_near_dups,
        "dedup_near_docs": dedup_near_docs,
        "dedup_near_simhash_docs": dedup_near_simhash_docs,
        "dedup_near_embedding_docs": dedup_near_embedding_docs,
        "sketch_xxhash_docs": sketch_xxhash_docs,
        "sketch_md5_docs": sketch_md5_docs,
        "token_stats": token_stats,
        "quality_scores": quality_scores,
        "lang_id_docs": lang_id_docs,
        "ann_topk": ann_topk,
        "ann_recall_rows": ann_recall_rows,
        "ann_lsh_planted": ann_lsh_planted,
        "ann_ivf_planted": ann_ivf_planted,
        "ann_ivf_fullprobe": ann_ivf_fullprobe,
        "ann_allpairs": ann_allpairs,
        "embedding_dups": embedding_dups,
        "er_matches_docs": er_matches_docs,
        "er_clusters_docs": er_clusters_docs,
        "er_link_docs": er_link_docs,
        "er_link_best_docs": er_link_best_docs,
        "blocking_quality_docs": blocking_quality_docs,
        "er_assign_docs": er_assign_docs,
    }


def oracle_sql() -> dict[str, str]:
    word_re = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    stop = {
        "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
        "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
        "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "pour"],
        "es": ["el", "la", "que", "de", "los", "una", "por", "con", "para", "es"],
    }
    lang_rows = ", ".join(
        "('%s', [%s])" % (lang, ", ".join(f"'{w}'" for w in ws))
        for lang, ws in stop.items()
    )
    grams3 = (
        "list_transform(range(1, length({t}) - 1), i -> substr({t}, i::INT, 3))"
    )
    return {
        "doc_assembly": """
            SELECT user_id AS conv_id,
                   string_agg(props, chr(31) ORDER BY event_id) AS doc,
                   count(*) AS n_turns,
                   length(string_agg(props, chr(31) ORDER BY event_id)) AS doc_len
            FROM events GROUP BY user_id
        """,
        "lev_adjacent": f"""
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.text, b.text) AS dist,
                   levenshtein(a.text, b.text) AS dist_builtin
            {_ADJ_SQL}
        """,
        "lev_k_col_adjacent": f"""
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CASE WHEN levenshtein(a.text, b.text) <= 40
                        THEN levenshtein(a.text, b.text) END AS dist_k40,
                   abs(length(a.text) - length(b.text)) + 20 AS k_pair,
                   CASE WHEN levenshtein(a.text, b.text)
                             <= abs(length(a.text) - length(b.text)) + 20
                        THEN levenshtein(a.text, b.text) END AS dist_kc
            {_ADJ_SQL}
        """,
        "lev_unicode": f"""
            -- DuckDB levenshtein counts BYTES, so it cannot score the
            -- accented texts directly; but codepoint edit distance is
            -- invariant under the bijective a/e/i/o/u -> accented
            -- substitution, so the distance of the ORIGINAL ASCII
            -- texts is the exact oracle for the unicode=True path
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.text, b.text) AS dist
            {_ADJ_SQL}
        """,
        "edit_costs_scaled": f"""
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CASE WHEN 2 * levenshtein(a.text, b.text) <= 80
                        THEN 2 * levenshtein(a.text, b.text) END AS dist2
            {_ADJ_SQL}
        """,
        "lev_binary_adjacent": f"""
            -- byte distance == string levenshtein on this ASCII corpus
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.text, b.text) AS dist
            {_ADJ_SQL}
        """,
        "edit_costs_natural": f"""
            -- full Gotoh affine-gap DP (mismatch=3, gap=2, start_gap=1;
            -- open = start_gap + gap) replayed as a recursive CTE: each
            -- iteration i computes DP row i from row i-1 carried as
            -- lists. The within-row gap recurrence (a horizontal move
            -- depends on cells of the SAME row) uses the prefix-min
            -- identity A[j] = open + gap*j + min_(j'<j)(T[j'] - gap*j')
            -- — valid because reopening inside a gap never beats
            -- extending (start_gap >= 0) — i.e. the same algebra as the
            -- NumPy kernel's np.minimum.accumulate (banded.py:19-23)
            WITH RECURSIVE base AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     substr(a.text, 1, 30) AS sa, substr(b.text, 1, 30) AS sb,
                     length(substr(a.text, 1, 30)) AS la,
                     length(substr(b.text, 1, 30)) AS lb
              {_ADJ_SQL}
            ),
            dp(id_a, id_b, sa, sb, la, lb, i, dpr, bgr) AS (
              SELECT id_a, id_b, sa, sb, la, lb, 0,
                     list_transform(range(0, lb + 1),
                       j -> CASE WHEN j = 0 THEN 0 ELSE 1 + 2*j END),
                     list_transform(range(0, lb + 1), j -> 1000000000)
              FROM base
              UNION ALL
              SELECT id_a, id_b, sa, sb, la, lb, i + 1,
                     list_transform(range(1, lb + 2), p -> least(tc[p::INT],
                       CASE WHEN p = 1 THEN 1000000000
                            ELSE 1 + 2*(p-1) + list_min(list_transform(
                                   range(1, p), q -> tc[q::INT] - 2*(q-1)))
                       END)),
                     nbg
              FROM (
                SELECT id_a, id_b, sa, sb, la, lb, i, nbg,
                       list_transform(range(1, lb + 2), p ->
                         CASE WHEN p = 1 THEN nbg[1]
                              ELSE least(dpr[(p-1)::INT]
                                           + CASE WHEN substr(sb, (p-1)::INT, 1) = pc
                                                  THEN 0 ELSE 3 END,
                                         nbg[p::INT])
                         END) AS tc
                FROM (
                  SELECT id_a, id_b, sa, sb, la, lb, i, dpr,
                         substr(sa, (i + 1)::INT, 1) AS pc,
                         list_transform(range(1, lb + 2),
                           p -> least(dpr[p::INT] + 3, bgr[p::INT] + 2)) AS nbg
                  FROM dp WHERE i < la
                )
              )
            )
            SELECT id_a, id_b, dpr[(lb + 1)::INT] AS cost FROM dp WHERE i = la
        """,
        "rdamerau_natural": f"""
            -- restricted Damerau-Levenshtein (OSA) replayed as a
            -- recursive-CTE DP on 30-char prefixes. Each iteration i
            -- computes DP row i from row i-1 (dpr) AND row i-2 (dpp —
            -- the transpose term d[i-2][j-2]+1, taken only when
            -- a[i-1]=b[j-2] and a[i-2]=b[j-1]). The in-row insertion
            -- recurrence d[i][j] = min(T[j], d[i][j-1]+1) unrolls to
            -- the same prefix-min identity as edit_costs_natural:
            -- d[i][j] = j + min_(q<=j)(T[q] - q) for unit costs.
            WITH RECURSIVE base AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     substr(a.text, 1, 30) AS sa, substr(b.text, 1, 30) AS sb,
                     length(substr(a.text, 1, 30)) AS la,
                     length(substr(b.text, 1, 30)) AS lb
              {_ADJ_SQL}
            ),
            dp(id_a, id_b, sa, sb, la, lb, i, dpr, dpp) AS (
              SELECT id_a, id_b, sa, sb, la, lb, 0,
                     list_transform(range(0, lb + 1), j -> j),
                     list_transform(range(0, lb + 1), j -> 1000000000)
              FROM base
              UNION ALL
              SELECT id_a, id_b, sa, sb, la, lb, i + 1,
                     list_transform(range(1, lb + 2), p ->
                       (p - 1) + list_min(list_transform(range(1, p + 1),
                                            q -> tc[q::INT] - (q - 1)))),
                     dpr
              FROM (
                SELECT id_a, id_b, sa, sb, la, lb, i, dpr,
                       list_transform(range(1, lb + 2), p ->
                         CASE WHEN p = 1 THEN i + 1
                              ELSE least(
                                dpr[p::INT] + 1,
                                dpr[(p-1)::INT]
                                  + CASE WHEN substr(sb, (p-1)::INT, 1) = pc
                                         THEN 0 ELSE 1 END,
                                CASE WHEN i >= 1 AND p >= 3
                                          AND pc = substr(sb, (p-2)::INT, 1)
                                          AND substr(sa, i::INT, 1)
                                              = substr(sb, (p-1)::INT, 1)
                                     THEN dpp[(p-2)::INT] + 1
                                     ELSE 1000000000 END)
                         END) AS tc
                FROM (
                  SELECT id_a, id_b, sa, sb, la, lb, i, dpr, dpp,
                         substr(sa, (i + 1)::INT, 1) AS pc
                  FROM dp WHERE i < la
                )
              )
            )
            SELECT id_a, id_b, dpr[(lb + 1)::INT] AS dist
            FROM dp WHERE i = la
        """,
        "edit_costs_affine_planted": """
            SELECT doc_id,
                   1 + 3 * (doc_id % 3 + 1) AS cost,
                   1 + 3 * (doc_id % 3 + 1) AS expected
            FROM documents
        """,
        "rdamerau_planted": """
            -- dist_subst: isolated substitutions, OSA == levenshtein
            -- provably. dist_swapped: DuckDB damerau_levenshtein is
            -- unrestricted DL; with isolated adjacent swaps (>= 17-char
            -- unchanged runs between edit sites) DL == OSA provably,
            -- so it oracles the restricted kernel's transpose path
            SELECT doc_id,
                   levenshtein(text,
                     substr(text, 1, 9) || '#' || substr(text, 11, 9) || '#'
                       || substr(text, 21, 9) || '#' || substr(text, 31))
                     AS dist_subst,
                   damerau_levenshtein(text,
                     substr(text, 1, 9)
                       || substr(text, 11, 1) || substr(text, 10, 1)
                       || substr(text, 12, 18)
                       || substr(text, 31, 1) || substr(text, 30, 1)
                       || substr(text, 32, 18)
                       || substr(text, 51, 1) || substr(text, 50, 1)
                       || substr(text, 52)) AS dist_swapped
            FROM documents
        """,
        "edit_traceback_adjacent": f"""
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.text, b.text) AS n_edits
            {_ADJ_SQL} WHERE a.doc_id < 50
        """,
        "name_similarity_adjacent": f"""
            -- DuckDB's NATIVE comparators oracle the whole family:
            -- jaro/jaro_winkler byte semantics and double op order
            -- match kernels/jaro.py bit-for-bit; damerau_levenshtein
            -- is the unrestricted (Lowrance-Wagner) distance, exactly
            -- kernels/damerau.py
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   jaro_similarity(substr(a.text, 1, 40),
                                   substr(b.text, 1, 40)) AS jaro,
                   jaro_winkler_similarity(substr(a.text, 1, 40),
                                           substr(b.text, 1, 40)) AS jw,
                   damerau_levenshtein(substr(a.text, 1, 40),
                                       substr(b.text, 1, 40)) AS ddl
            {_ADJ_SQL}
        """,
        "edit_traceback_natural": f"""
            -- RUN-LEVEL traceback replay: rebuild the kernel's pointer
            -- matrix row by row (unit costs collapse the affine gap
            -- state to a_gap = left+1 / b_gap = up+1; banded.py:191-233)
            -- with the reference tie-break (sub wins ties, a_gap
            -- strictly below, b_gap strictly below; levenshtein.rs:
            -- 493-532), operands swapped so the pattern is the shorter
            -- string (labels flipped back on output, banded.py:110-120,
            -- 304-305), then walk it back from (m, n) and RLE-compress.
            -- Pointer codes: 0 = sub, 1 = a_gap (consume text char),
            -- 2 = b_gap (consume pattern char). Row 0 is all a_gap.
            WITH RECURSIVE raw AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     substr(a.text, 1, 20) AS pa, substr(b.text, 1, 20) AS pb
              {_ADJ_SQL}
            ),
            base AS (
              SELECT id_a, id_b,
                     CASE WHEN length(pa) > length(pb) THEN pb ELSE pa END AS p,
                     CASE WHEN length(pa) > length(pb) THEN pa ELSE pb END AS t,
                     length(pa) > length(pb) AS sw
              FROM raw
            ),
            dp(id_a, id_b, p, t, m, n, i, dpr, ptr) AS (
              SELECT id_a, id_b, p, t, length(p), length(t), 0,
                     list_transform(range(0, length(t) + 1), j -> j),
                     list_transform(range(0, length(t) + 1), j -> 1)
              FROM base
              UNION ALL
              SELECT id_a, id_b, p, t, m, n, i + 1, nd,
                     -- pointer priority: start at sub; a_gap (= nd of
                     -- the left cell + 1) replaces if strictly less;
                     -- b_gap (= up + 1) replaces if strictly less
                     list_transform(range(1, n + 2), pp ->
                       CASE WHEN pp = 1 THEN 2
                            WHEN dpr[pp::INT] + 1
                                 < least(sub[pp::INT], nd[(pp-1)::INT] + 1)
                              THEN 2
                            WHEN nd[(pp-1)::INT] + 1 < sub[pp::INT] THEN 1
                            ELSE 0 END)
              FROM (
                SELECT id_a, id_b, p, t, m, n, i, dpr, sub,
                       -- the new DP row via the same prefix-min
                       -- identity as rdamerau_natural: d[i][j] =
                       -- j + min_(q<=j)(min(sub[q], up[q]+1) - q)
                       list_transform(range(1, n + 2), pp ->
                         (pp - 1) + list_min(list_transform(
                           range(1, pp + 1),
                           q -> least(sub[q::INT], dpr[q::INT] + 1)
                                - (q - 1)))) AS nd
                FROM (
                  SELECT id_a, id_b, p, t, m, n, i, dpr,
                         list_transform(range(1, n + 2), pp ->
                           CASE WHEN pp = 1 THEN 1000000000
                                ELSE dpr[(pp-1)::INT]
                                     + CASE WHEN substr(t, (pp-1)::INT, 1)
                                                 = substr(p, (i+1)::INT, 1)
                                            THEN 0 ELSE 1 END END) AS sub
                  FROM dp WHERE i < m
                )
              )
            ),
            walk(id_a, id_b, i, j, eds) AS (
              SELECT id_a, id_b, m, n, []::VARCHAR[] FROM dp WHERE i = m
              UNION ALL
              SELECT id_a, id_b,
                     CASE WHEN pt = 1 THEN i ELSE i - 1 END,
                     CASE WHEN pt = 2 THEN j ELSE j - 1 END,
                     list_append(eds, lab)
              FROM (
                SELECT w.id_a, w.id_b, w.i, w.j, w.eds,
                       d.ptr[(w.j + 1)::INT] AS pt,
                       CASE d.ptr[(w.j + 1)::INT]
                         WHEN 0 THEN CASE WHEN substr(d.p, w.i::INT, 1)
                                               = substr(d.t, w.j::INT, 1)
                                     THEN 'match' ELSE 'mismatch' END
                         WHEN 1 THEN CASE WHEN b.sw THEN 'b_gap'
                                          ELSE 'a_gap' END
                         ELSE CASE WHEN b.sw THEN 'a_gap' ELSE 'b_gap' END
                       END AS lab
                FROM walk w
                JOIN dp d ON d.id_a = w.id_a AND d.id_b = w.id_b
                         AND d.i = w.i
                JOIN base b ON b.id_a = w.id_a AND b.id_b = w.id_b
                WHERE w.i > 0 OR w.j > 0
              )
            ),
            fin AS (
              SELECT id_a, id_b, list_reverse(eds) AS ed
              FROM walk WHERE i = 0 AND j = 0
            ),
            ex AS (
              SELECT id_a, id_b, r.i AS pos, ed[r.i::INT] AS edit
              FROM fin JOIN range(1, 64) r(i) ON r.i <= length(ed)
            ),
            isl AS (
              SELECT id_a, id_b, pos, edit,
                     pos - row_number() OVER (
                       PARTITION BY id_a, id_b, edit ORDER BY pos) AS grp
              FROM ex
            ),
            runs AS (
              SELECT id_a, id_b, edit, min(pos) AS st, count(*) AS n
              FROM isl GROUP BY id_a, id_b, edit, grp
            )
            SELECT id_a, id_b,
                   row_number() OVER (PARTITION BY id_a, id_b
                                      ORDER BY st) AS run_idx,
                   edit, n
            FROM runs
        """,
        "edit_search_docs": """
            WITH d AS (
              SELECT doc_id, text, substr(text, 21, 12) AS needle,
                     length(text) AS h, length(substr(text, 21, 12)) AS n
              FROM documents
            ),
            costs AS (
              -- DuckDB range() takes no correlated args: join a
              -- corpus-max position table and filter per doc instead
              SELECT d.doc_id, t.e,
                     min(levenshtein(d.needle,
                                     substr(d.text, (t.e - l.L + 1)::INT, l.L::INT)))
                       AS cost
              FROM d
              JOIN range(0, 4096) t(e)  -- constant-only fn; ON prunes per doc
                ON t.e <= d.h
              JOIN range(0, 15) l(L)
                ON l.L >= greatest(d.n - 2, 0) AND l.L <= least(t.e, d.n + 2)
              GROUP BY d.doc_id, t.e
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_matches, min(cost) AS min_k
              FROM costs WHERE cost <= 2 GROUP BY doc_id
            ),
            -- best mode: every surviving match carries the GLOBAL min
            -- cost over all window ends (the tightening-threshold
            -- semantics), NULL when nothing is within k
            best AS (
              SELECT doc_id, min(cost) AS best_k FROM costs GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(agg.n_matches, 0) AS n_matches,
                   agg.min_k,
                   CASE WHEN best.best_k <= 2 THEN best.best_k END AS best_k
            FROM d LEFT JOIN agg USING (doc_id) LEFT JOIN best USING (doc_id)
        """,
        "hamming_search_docs": """
            WITH d AS (
              SELECT doc_id, text, substr(text, 21, 12) AS needle,
                     length(text) AS h, length(substr(text, 21, 12)) AS n
              FROM documents
            ),
            w AS (
              SELECT d.doc_id,
                     hamming(d.needle, substr(d.text, t.p::INT, d.n::INT)) AS dist
              FROM d
              JOIN range(1, 4096) t(p)  -- constant-only fn; ON prunes per doc
                ON t.p <= d.h - d.n + 1
              WHERE d.n > 0
            ),
            b AS (SELECT doc_id, min(dist) AS dmin FROM w GROUP BY doc_id),
            c AS (
              SELECT w.doc_id, b.dmin, count(*) AS n_at_min
              FROM w JOIN b USING (doc_id) WHERE w.dist = b.dmin
              GROUP BY w.doc_id, b.dmin
            )
            SELECT d.doc_id,
                   CASE WHEN c.dmin <= 2 THEN c.n_at_min ELSE 0 END AS n_matches,
                   CASE WHEN c.dmin <= 2 THEN c.dmin END AS best_k
            FROM d LEFT JOIN c USING (doc_id)
        """,
        "minhash_lsh_dups": _DUP_EDGES_SQL,
        "simhash_near_dups": _SIMHASH_EDGES_SQL,
        "dedup_near_simhash_docs": f"""
            WITH RECURSIVE m AS ({_SIMHASH_EDGES_SQL}),
            corpus AS ({_DUP_CORPUS_SQL}),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM corpus
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            )
            SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id
        """,
        "dedup_near_docs": f"""
            WITH RECURSIVE m AS ({_DUP_EDGES_SQL}),
            corpus AS ({_DUP_CORPUS_SQL}),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM corpus
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            )
            SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id
        """,
        "dedup_near_embedding_docs": """
            -- exact O(n^2) cosine edges over the twin-planted corpus,
            -- recursive-CTE CC, min-id representative kept
            WITH RECURSIVE dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            corpus AS (
              SELECT vec_id, v FROM dbl
              UNION ALL
              SELECT vec_id + 1000000,
                     list_transform(v, x -> x * 0.5::DOUBLE)
              FROM dbl WHERE vec_id < 50
            ),
            m AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.999::DOUBLE
            ),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT vec_id, vec_id FROM corpus
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            )
            SELECT id AS vec_id FROM reach GROUP BY id HAVING min(r) = id
        """,
        "ann_ivf_planted": """
            -- same twin replay as ann_lsh_planted (normalized twin ->
            -- same centroid -> always probed; cosine 1.0 wins rank 1)
            WITH dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            q AS (SELECT vec_id AS query_id, v FROM dbl WHERE vec_id < 50),
            corpus AS (
              SELECT vec_id, v FROM dbl WHERE vec_id >= 50
              UNION ALL
              SELECT query_id + 1000000,
                     list_transform(v, x -> x * 0.5::DOUBLE)
              FROM q
            ),
            scored AS (
              SELECT q.query_id, c.vec_id,
                     list_cosine_similarity(q.v, c.v) AS cosine
              FROM q CROSS JOIN corpus c
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 9) AS cosine, rank
            FROM ranked WHERE rank <= 1
        """,
        "ann_lsh_planted": """
            -- exact top-1 over the twin-planted corpus: the 0.5-scaled
            -- twin shares every sign-LSH bucket with its query, so the
            -- LSH result provably equals this exact replay
            WITH dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            q AS (SELECT vec_id AS query_id, v FROM dbl WHERE vec_id < 50),
            corpus AS (
              SELECT vec_id, v FROM dbl WHERE vec_id >= 50
              UNION ALL
              SELECT query_id + 1000000,
                     list_transform(v, x -> x * 0.5::DOUBLE)
              FROM q
            ),
            scored AS (
              SELECT q.query_id, c.vec_id,
                     list_cosine_similarity(q.v, c.v) AS cosine
              FROM q CROSS JOIN corpus c
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 9) AS cosine, rank
            FROM ranked WHERE rank <= 1
        """,
        "ann_allpairs": """
            WITH dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 150
            ),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id,
                     list_cosine_similarity(a.v, b.v) AS cosine
              FROM dbl a JOIN dbl b ON a.vec_id != b.vec_id
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 9) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_dups": """
            WITH dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            corpus AS (
              SELECT vec_id, v FROM dbl
              UNION ALL
              SELECT vec_id + 1000000,
                     list_transform(v, x -> x * 0.5::DOUBLE)
              FROM dbl WHERE vec_id < 50
            ),
            edges AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.v, b.v), 9) AS cosine
              FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.999::DOUBLE
            )
            SELECT 'expr' AS method, id_a, id_b, cosine FROM edges
            UNION ALL
            SELECT 'arrow', id_a, id_b, cosine FROM edges
        """,
        "er_transcripts_clusters": f"""
            WITH RECURSIVE {_TRANSCRIPT_MATCH_SQL.strip().removeprefix('WITH')},
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT conv_id, conv_id FROM docs
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            )
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        """,
        "er_transcripts_f1": f"""
            {_TRANSCRIPT_MATCH_SQL},
            t AS (
              SELECT 'c' || lpad(doc_id::VARCHAR, 8, '0') AS id_a,
                     'd' || lpad(doc_id::VARCHAR, 8, '0') AS id_b
              FROM documents WHERE doc_id % 3 = 0
            ),
            counts AS (
              SELECT
                (SELECT count(*) FROM m JOIN t USING (id_a, id_b)) AS tp,
                (SELECT count(*) FROM m) AS np,
                (SELECT count(*) FROM t) AS nt
            ),
            pr AS (
              SELECT tp, np - tp AS fp, nt - tp AS fn,
                     CASE WHEN np > 0 THEN tp::DOUBLE / np::DOUBLE
                          ELSE 0.0::DOUBLE END AS precision,
                     CASE WHEN nt > 0 THEN tp::DOUBLE / nt::DOUBLE
                          ELSE 0.0::DOUBLE END AS recall
              FROM counts
            )
            SELECT tp, fp, fn, precision, recall,
                   CASE WHEN precision + recall > 0.0::DOUBLE
                        THEN 2.0::DOUBLE * precision * recall
                             / (precision + recall)
                        ELSE 0.0::DOUBLE END AS f1
            FROM pr
        """,
        "hamming_fixed": f"""
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   hamming(rpad(substr(a.text, 1, 40), 40, 'x'),
                           rpad(substr(b.text, 1, 40), 40, 'x')) AS dist
            {_ADJ_SQL}
        """,
        "exact_dedup_docs": """
            SELECT doc_id, md5(text) AS digest FROM documents d
            WHERE doc_id = (SELECT min(doc_id) FROM documents x
                            WHERE x.text = d.text)
        """,
        "ngram_jaccard_adjacent": f"""
            WITH g AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     list_distinct(CASE WHEN length(a.text) >= 3
                        THEN {grams3.format(t='a.text')} ELSE [a.text] END) AS ga,
                     list_distinct(CASE WHEN length(b.text) >= 3
                        THEN {grams3.format(t='b.text')} ELSE [b.text] END) AS gb
              {_ADJ_SQL}
            )
            SELECT id_a, id_b,
                   CASE WHEN length(list_distinct(ga || gb)) > 0
                        THEN length(list_intersect(ga, gb))::DOUBLE
                             / length(list_distinct(ga || gb))::DOUBLE
                        ELSE 1.0::DOUBLE END AS jaccard
            FROM g
        """,
        "sketch_md5_docs": f"""
            WITH nt AS (
              SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     ('0x' || substr(md5(substr(t, i::INT, 4)), 1, 15))::BIGINT AS h
              FROM nt JOIN range(1, 4096) r(i)
                ON r.i <= greatest(length(t) - 3, 1)
            ),
            s AS (
              SELECT doc_id,
                     {", ".join(f"sum(CASE WHEN h & {1 << b} != 0 THEN 1 ELSE -1 END) AS s{b}" for b in range(60))}
              FROM g GROUP BY doc_id
            )
            ,sh AS (
              SELECT doc_id,
                     ({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END" for b in range(60))}) AS simhash
              FROM s
            ),
            fg AS (
              SELECT doc_id, substr(text, i::INT, 8) AS gr, i - 1 AS idx
              FROM documents JOIN range(1, 4096) r(i)
                ON r.i <= greatest(length(text) - 7, 1)
            ),
            fp AS (
              SELECT doc_id,
                     bit_xor(('0x' || substr(md5(gr || ':' || idx::VARCHAR), 1, 15))::BIGINT) AS fp
              FROM fg GROUP BY doc_id
            )
            SELECT sh.doc_id, sh.simhash, fp.fp
            FROM sh JOIN fp ON sh.doc_id = fp.doc_id
        """,
        "token_stats": f"""
            SELECT doc_id,
                   length(regexp_split_to_array(trim(text), '\\s+')) AS n_ws,
                   length(regexp_extract_all(text, '{word_re}')) AS n_tok
            FROM documents
        """,
        "quality_scores": r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     length(regexp_split_to_array(trim(text), '\s+')) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct,
                     length(regexp_replace(text, '[^\s]', '', 'g')) AS space,
                     length(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS uniq_words
              FROM documents
            ), r AS (
              SELECT doc_id, n_chars, n_words,
                     CASE WHEN n_chars > 0 THEN alpha::DOUBLE / n_chars::DOUBLE ELSE 0.0::DOUBLE END AS alpha_ratio,
                     CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars::DOUBLE ELSE 0.0::DOUBLE END AS punct_ratio,
                     CASE WHEN n_words > 0 THEN uniq_words::DOUBLE / n_words::DOUBLE ELSE 0.0::DOUBLE END AS uniq_word_ratio,
                     CASE WHEN n_words > 0 THEN (n_chars - space)::DOUBLE / n_words::DOUBLE ELSE 0.0::DOUBLE END AS mean_word_len
              FROM f
            )
            SELECT doc_id, n_chars, n_words, alpha_ratio, punct_ratio,
                   uniq_word_ratio, mean_word_len,
                   round(least(alpha_ratio / 0.6::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
                   + (1.0::DOUBLE - least(punct_ratio / 0.5::DOUBLE, 1.0::DOUBLE)) * 0.2::DOUBLE
                   + least(uniq_word_ratio, 1.0::DOUBLE) * 0.2::DOUBLE
                   + CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12
                          THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END, 6) AS quality_score
            FROM r
        """,
        # one prediction expression emitted under BOTH column names —
        # the Column form and the single-pass scale shape must agree,
        # so any divergence between the two engine paths hash-fails
        "lang_id_docs": f"""
            WITH langs(lang, words) AS (VALUES {lang_rows}),
            hits AS (
              SELECT d.doc_id, l.lang,
                     length(list_filter(
                        regexp_split_to_array(lower(d.text), '[^a-zà-ÿ]+'),
                        t -> list_contains(l.words, t))) AS n_hits
              FROM documents d CROSS JOIN langs l
            ),
            best AS (
              SELECT doc_id,
                     max(struct_pack(hits := n_hits, lang := lang)) AS b
              FROM hits GROUP BY doc_id
            )
            SELECT doc_id,
                   CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS lang_pred,
                   CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END
                     AS lang_pred_scaled
            FROM best
        """,
        "ann_topk": """
            -- expr rows carry RAW doubles (the sequential fold matches
            -- DuckDB's accumulation order bit-for-bit); arrow rows
            -- round to 9 decimals (matmul pairwise summation)
            WITH dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id,
                     list_cosine_similarity(q.v, c.v) AS cosine
              FROM dbl q CROSS JOIN dbl c
              WHERE q.vec_id < 10 AND c.vec_id >= 10
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT 'expr' AS method, query_id, vec_id, cosine, rank
            FROM ranked WHERE rank <= 10
            UNION ALL
            SELECT 'arrow', query_id, vec_id, round(cosine, 9), rank
            FROM ranked WHERE rank <= 10
        """,
        "ann_ivf_fullprobe": """
            WITH dbl AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id,
                     list_cosine_similarity(q.v, c.v) AS cosine
              FROM dbl q CROSS JOIN dbl c
              WHERE q.vec_id < 10 AND c.vec_id >= 10
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 9) AS cosine, rank
            FROM ranked WHERE rank <= 10
        """,
        "er_matches_docs": f"""
            SELECT id_a, id_b, dist, sim, sim >= {ER_TAU} AS is_match
            FROM ({_DOC_ER_PAIR_SQL})
        """,
        "er_link_docs": f"""
            SELECT id_l, id_r, dist, sim FROM ({_LINK_PAIR_SQL})
        """,
        "er_link_best_docs": f"""
            SELECT id_l, id_r, dist, sim FROM (
              SELECT id_l, id_r, dist, sim,
                     row_number() OVER (
                       PARTITION BY id_r
                       ORDER BY sim DESC, dist ASC, id_l ASC) AS rn
              FROM ({_LINK_PAIR_SQL})
            ) WHERE rn = 1
        """,
        "blocking_quality_docs": f"""
            WITH r AS ({_LINK_RIGHT_SQL}),
            cand AS (
              SELECT l.doc_id AS id_l, r.id_r
              FROM documents l JOIN r
                ON substr(lower(regexp_replace(l.text, '\\s+', ' ', 'g')),
                          1, {ER_PREFIX})
                 = substr(lower(regexp_replace(r.text, '\\s+', ' ', 'g')),
                          1, {ER_PREFIX})
            ),
            truth AS (
              SELECT doc_id AS id_l, doc_id + 1000000 AS id_r
              FROM documents WHERE doc_id % 2 = 0
            ),
            c AS (SELECT count(*) AS n_candidates FROM cand),
            t AS (SELECT count(*) AS n_truth FROM truth),
            cov AS (
              SELECT count(*) AS n_covered FROM truth
              WHERE EXISTS (SELECT 1 FROM cand
                            WHERE cand.id_l = truth.id_l
                              AND cand.id_r = truth.id_r)
            ),
            tot AS (
              SELECT (SELECT count(*) FROM documents)
                     * (SELECT count(*) FROM r) AS tp
            )
            SELECT n_candidates, n_truth, n_covered,
                   n_covered::DOUBLE / greatest(n_truth, 1)::DOUBLE
                     AS pair_completeness,
                   1.0::DOUBLE - n_candidates::DOUBLE / tp::DOUBLE
                     AS reduction_ratio
            FROM c, t, cov, tot
        """,
        "er_assign_docs": f"""
            WITH RECURSIVE m AS (
              SELECT id_a, id_b FROM ({_DOC_ER_PAIR_SQL}) WHERE sim >= {ER_TAU}
            ),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            ),
            clus AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
            newdocs AS (
              SELECT id_r AS id, text FROM ({_LINK_RIGHT_SQL})
              UNION ALL
              SELECT doc_id + 2000000, reverse(text)
              FROM documents WHERE doc_id % 10 = 1
            ),
            cand AS (
              SELECT l.doc_id AS id_l, n.id,
                     levenshtein(l.text, n.text) AS dist,
                     1.0::DOUBLE - levenshtein(l.text, n.text)::DOUBLE
                         / greatest(length(l.text), length(n.text), 1)::DOUBLE
                       AS sim
              FROM documents l JOIN newdocs n
                ON substr(lower(regexp_replace(l.text, '\\s+', ' ', 'g')),
                          1, {ER_PREFIX})
                 = substr(lower(regexp_replace(n.text, '\\s+', ' ', 'g')),
                          1, {ER_PREFIX})
              WHERE 1.0::DOUBLE - levenshtein(l.text, n.text)::DOUBLE
                        / greatest(length(l.text), length(n.text), 1)::DOUBLE
                    >= {ER_TAU}::DOUBLE
            ),
            best AS (
              SELECT id_l, id, dist, sim FROM (
                SELECT id_l, id, dist, sim,
                       row_number() OVER (
                         PARTITION BY id
                         ORDER BY sim DESC, dist ASC, id_l ASC) AS rn
                FROM cand
              ) WHERE rn = 1
            )
            SELECT n.id,
                   coalesce(c.cluster_id, n.id) AS cluster_id,
                   b.id_l AS matched_id, b.dist, b.sim,
                   b.id_l IS NULL AS is_new
            FROM newdocs n
            LEFT JOIN best b ON b.id = n.id
            LEFT JOIN clus c ON c.id = b.id_l
        """,
        "er_bcubed_docs": f"""
            WITH RECURSIVE m AS (
              SELECT id_a, id_b FROM ({_DOC_ER_PAIR_SQL}) WHERE sim >= {ER_TAU}
            ),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            ),
            pred AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
            pk AS (
              SELECT doc_id AS id,
                     substr(lower(regexp_replace(text, '\\s+', ' ', 'g')),
                            1, {ER_PREFIX}) AS k
              FROM documents
            ),
            truth AS (
              SELECT id, min(id) OVER (PARTITION BY k) AS tid FROM pk
            ),
            j AS (
              SELECT pred.cid, truth.tid
              FROM pred JOIN truth ON pred.id = truth.id
            ),
            ct AS (SELECT cid, tid, count(*) AS n_ct FROM j GROUP BY cid, tid),
            c AS (SELECT cid, count(*) AS n_c FROM j GROUP BY cid),
            t AS (SELECT tid, count(*) AS n_t FROM j GROUP BY tid)
            SELECT ct.cid AS cluster_id, ct.tid AS true_id,
                   ct.n_ct, c.n_c, t.n_t,
                   ct.n_ct::DOUBLE / c.n_c::DOUBLE AS p_contrib,
                   ct.n_ct::DOUBLE / t.n_t::DOUBLE AS r_contrib
            FROM ct JOIN c ON ct.cid = c.cid JOIN t ON ct.tid = t.tid
        """,
        "er_clusters_docs": f"""
            WITH RECURSIVE m AS (
              SELECT id_a, id_b FROM ({_DOC_ER_PAIR_SQL}) WHERE sim >= {ER_TAU}
            ),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            )
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        """,
        "media_features_docs": """
            SELECT doc_id AS media_id,
                   CASE (doc_id % 3) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   length(text) AS n_bytes,
                   16 AS feat_dim
            FROM documents
        """,
        "media_decode_ppm": """
            -- decoded-pixel stats recomputed from the source chars:
            -- each char c becomes one (c,c,c) pixel, so the raster is
            -- 3*len bytes summing to 3*sum(ascii); the mean is one
            -- double division of exact integers in both engines
            WITH d AS (
              -- same printable-ASCII / newline-free / length guard as
              -- the Spark query (the construction is only defined there)
              SELECT doc_id, text FROM documents
              WHERE regexp_full_match(text, '[ -~]*') AND length(text) < 4096
            ),
            s AS (
              SELECT doc_id, length(text) AS n,
                     sum(ascii(substr(text, i::INT, 1))) AS cs
              FROM d JOIN range(1, 4096) r(i)
                ON r.i <= length(text)
              GROUP BY doc_id, length(text)
            )
            SELECT doc_id AS media_id, 'image' AS kind,
                   n AS width, 1::BIGINT AS height,
                   3 * n AS n_px,
                   (3 * cs)::DOUBLE / (3 * n)::DOUBLE AS mean_px
            FROM s
        """,
        "corpus_cleanse_docs": f"""
            -- the full cleanse chain replayed: validity -> quality ->
            -- lang -> exact dedup (min-id per md5) -> near dedup
            -- (exact O(n^2) 5-gram Jaccard edges over the survivors +
            -- recursive-CTE CC, min-id kept). Operator recall == exact
            -- at these band settings on this planted corpus (the same
            -- argument as dedup_near_docs).
            WITH RECURSIVE corpus AS (
              SELECT doc_id, text FROM ({_DUP_CORPUS_SQL})
              UNION ALL
              SELECT doc_id + 2000000, text FROM ({_DUP_CORPUS_SQL})
              WHERE doc_id < 50
            ),
            qf AS (
              SELECT doc_id, text,
                     length(text) AS n_chars,
                     length(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct,
                     length(regexp_replace(text, '[^\\s]', '', 'g')) AS space,
                     length(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS uniq_words,
                     length(regexp_extract_all(text, '{word_re}')) AS n_tokens
              FROM corpus
            ),
            qr AS (
              SELECT doc_id, text, n_tokens,
                     CASE WHEN n_chars > 0 THEN alpha::DOUBLE / n_chars::DOUBLE ELSE 0.0::DOUBLE END AS alpha_ratio,
                     CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars::DOUBLE ELSE 0.0::DOUBLE END AS punct_ratio,
                     CASE WHEN n_words > 0 THEN uniq_words::DOUBLE / n_words::DOUBLE ELSE 0.0::DOUBLE END AS uniq_word_ratio,
                     CASE WHEN n_words > 0 THEN (n_chars - space)::DOUBLE / n_words::DOUBLE ELSE 0.0::DOUBLE END AS mean_word_len
              FROM qf
            ),
            qs AS (
              SELECT doc_id, text, n_tokens,
                     round(least(alpha_ratio / 0.6::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
                     + (1.0::DOUBLE - least(punct_ratio / 0.5::DOUBLE, 1.0::DOUBLE)) * 0.2::DOUBLE
                     + least(uniq_word_ratio, 1.0::DOUBLE) * 0.2::DOUBLE
                     + CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12
                            THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END, 6) AS quality_score
              FROM qr
            ),
            langs(lang, words) AS (VALUES {lang_rows}),
            hits AS (
              SELECT d.doc_id, l.lang,
                     length(list_filter(
                        regexp_split_to_array(lower(d.text), '[^a-zà-ÿ]+'),
                        t -> list_contains(l.words, t))) AS n_hits
              FROM corpus d CROSS JOIN langs l
            ),
            lp AS (
              SELECT doc_id,
                     CASE WHEN max(struct_pack(hits := n_hits, lang := lang)).hits > 0
                          THEN max(struct_pack(hits := n_hits, lang := lang)).lang
                          ELSE 'und' END AS lang_pred
              FROM hits GROUP BY doc_id
            ),
            base AS (
              SELECT q.doc_id, q.text, q.n_tokens, q.quality_score, lp.lang_pred
              FROM qs q JOIN lp ON q.doc_id = lp.doc_id
              WHERE q.text IS NOT NULL AND q.n_tokens >= 5
                AND q.quality_score >= 0.88::DOUBLE AND lp.lang_pred = 'en'
            ),
            ex AS (
              SELECT * FROM (
                SELECT b.*, min(doc_id) OVER (PARTITION BY md5(text)) AS _mk
                FROM base b
              ) WHERE doc_id = _mk
            ),
            g AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN length(nt) >= 5
                            THEN list_transform(range(1, length(nt) - 3),
                                                i -> substr(nt, i::INT, 5))
                            ELSE [substr(nt, 1, 5)] END) AS gs
              FROM (SELECT doc_id,
                           lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
                    FROM ex)
            ),
            pre AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     length(list_intersect(a.gs, b.gs)) AS i,
                     length(a.gs) AS na, length(b.gs) AS nb
              FROM g a JOIN g b ON a.doc_id < b.doc_id
            ),
            m AS (
              SELECT id_a, id_b FROM pre
              WHERE i::DOUBLE / (na + nb - i)::DOUBLE >= 0.8::DOUBLE
            ),
            e AS (
              SELECT id_a AS u, id_b AS v FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM ex
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
            ),
            keep AS (
              SELECT id FROM reach GROUP BY id HAVING min(r) = id
            )
            SELECT ex.doc_id, ex.lang_pred, ex.n_tokens::BIGINT AS n_tokens,
                   ex.quality_score
            FROM ex JOIN keep ON ex.doc_id = keep.id
        """,
        "media_feature_ppm": """
            -- decoded-pixel folded histogram recomputed from the source
            -- chars: char c -> one (c,c,c) pixel, so feature[k] =
            -- 3 * |{chars with ascii % 16 = k}| exactly (integer counts
            -- are exact in float32, so the cast chain matches)
            WITH d AS (
              SELECT doc_id, text FROM documents
              WHERE regexp_full_match(text, '[ -~]*') AND length(text) < 4096
            ),
            ch AS (
              SELECT doc_id, ascii(substr(text, i::INT, 1)) % 16 AS r
              FROM d JOIN range(1, 4096) t(i) ON t.i <= length(text)
            ),
            h AS (
              SELECT doc_id, r, 3 * count(*) AS c FROM ch GROUP BY doc_id, r
            )
            SELECT d.doc_id AS media_id, k.k::BIGINT AS idx,
                   coalesce(h.c, 0)::DOUBLE AS val
            FROM d CROSS JOIN range(0, 16) k(k)
            LEFT JOIN h ON h.doc_id = d.doc_id AND h.r = k.k
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n,
                   min(value) AS min_v, max(value) AS max_v
            FROM events GROUP BY 1, 2
        """,
    }
