"""Round-11 query family: the r10 verdict's asks, composed from
existing machinery (the compose-don't-build direction now standing),
plus two corpus-budget/diversity audits from the same toolbox.

Five members:
  * dedup_semantic_chain_audit_derived_c — the chain audit's
    PRODUCTION (C ∝ N) twin (verdict ask #4): the removal-provenance
    audit re-run at the derived-C configuration, so the shape the
    decade probes recommend is driver-visible for the audit too.
  * dedup_policy_agreement_audit — stretch (a): the MinHash keep-set
    and the SemDeDup keep-set joined into one agreement/disagreement
    contingency with token mass — the two dedup families audited
    against each other.
  * training_critical_batch_schedule — stretch (b): the gradient
    noise scale composed with the packing grid into the
    tokens-per-step / steps-per-epoch table a training run actually
    schedules from.
  * text_distinct_ngram_diversity — distinct-n per source: the
    corpus-wide boilerplate signal per-doc repetition filters miss.
  * training_chinchilla_data_budget — compute-optimal token
    requirement vs this corpus at 4 model scales (epochs needed,
    token shortfall).

Everything reuses ONE-copy machinery: _chain_audit_frame /
_chain_audit_tail, _semdedup_derived_c_prelude, _gns_scalar_frame /
_gns_prelude (all round10_queries), the MinHash pipeline
(operators/dedup.py + ext_queries' shared CTE fragments), and
semantic_dedup. Zero new numeric code paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.operators import dedup as D
from wilayah_aceh_etl_spark.operators import similarity as S
from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Chain audit at the derived-C production configuration (the r10
# verdict ask #4): same provenance audit, C = max(16, ceil(n/16)).
# ---------------------------------------------------------------------------


def _chain_audit_derived_c_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _chain_audit_tail,
        _semdedup_derived_c_prelude,
    )

    return _semdedup_derived_c_prelude(16) + _chain_audit_tail()


@register(
    "dedup_semantic_chain_audit_derived_c",
    oracle=_chain_audit_derived_c_oracle(),
    tags=("ext", "dedup", "semantic", "semdedup", "audit", "derived-c"),
    description="SemDeDup removal provenance per cluster at the "
    "derived-C production configuration (C = max(16, ceil(n/16)))",
)
def dedup_semantic_chain_audit_derived_c(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The removal-provenance audit (see dedup_semantic_chain_audit)
    at the PRODUCTION SemDeDup configuration — C derived from the
    corpus (C = max(16, ⌈n/16⌉) here, C = 32/32/125 across the test
    SFs), the C ∝ N path that keeps per-cluster pair work constant
    as data grows. The fixed-C=16 sibling is the one the r10 decade
    probes measured quadratic AT ITS ORACLE-PINNED CONFIGURATION
    (SCALE.md §9e); this twin makes the audit's scale shape
    driver-visible: both the Spark pipeline and the DuckDB oracle
    re-derive C from COUNT(*), train Lloyd at that C, and run the
    same blame sweep — one _chain_audit_tail, one
    _chain_audit_frame, two configurations.

    Determinism: identical to the fixed-C audit (shared SQL tail,
    shared DataFrame pipeline); only the cluster count differs.

    Scale shape: the cid equi-join pair work is Σ|cluster|² with
    |cluster| ≈ 16 held constant by the derived C — the audit
    stays linear in N where the fixed-C form grows quadratically."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _chain_audit_frame,
    )

    return _chain_audit_frame(
        spark,
        sf_dir,
        n_centroids=None,
        target_cluster_size=16,
    )


# ---------------------------------------------------------------------------
# Dedup-policy agreement audit: MinHash keep-set × SemDeDup keep-set
# as a 2×2 contingency with token mass (the r10 verdict stretch (a)).
# ---------------------------------------------------------------------------


def _minhash_chain_sql() -> str:
    """The MinHash CTE chain (words/sh/sigs/bands/cand/sizes/inter/
    jac over documents) as an appendable fragment — ONE copy shared
    by the fixed-C and derived-C policy-agreement oracles, which
    differ only in the SemDeDup prelude they prepend."""
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _BANDS_CTE,
        _CAND_CTE,
        _JACCARD_CTE,
        _SHINGLE_CTE,
        _SIGS_CTE,
    )

    return (
        ","
        + _SHINGLE_CTE
        + ", "
        + _SIGS_CTE
        + ", "
        + _BANDS_CTE
        + ","
        + _CAND_CTE
        + _JACCARD_CTE
    )


# The MinHash removed-set CTE (greedy keep-first-by-id: a doc is
# removed iff it is the LARGER id of a verified candidate pair) —
# attaches to the `cand`/`jac` chain; shared by the policy base
# below and the distinct-2 dedup cross-check (round12_queries).
_MRM_SQL = """,
mrm AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c JOIN jac j USING (doc_a, doc_b)
  WHERE j.jaccard >= 0.5
)"""

# The per-doc verdict relation (mrm + base) attaches to any WITH
# chain exposing `ranked` / `removed` (the SemDeDup prelude surface)
# and the MinHash `cand` / `jac` CTEs — shared by the 2×2 agreement
# SELECT below and the curation-funnel budget tail (round12_queries).
_POLICY_BASE_SQL = _MRM_SQL + """,
base AS (
  SELECT d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
         CAST(CASE WHEN m.doc_id IS NULL THEN 1 ELSE 0 END
              AS INTEGER) AS minhash_keep,
         CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END
              AS INTEGER) AS semantic_keep
  FROM documents d
  JOIN ranked r ON r.vec_id = d.doc_id
  LEFT JOIN removed rm ON rm.vec_id = d.doc_id
  LEFT JOIN mrm m ON m.doc_id = d.doc_id
)"""

# The agreement tail: the fixed-C and derived-C 2×2 oracles share
# this one copy.
_POLICY_AGREEMENT_TAIL = _POLICY_BASE_SQL + """
SELECT minhash_keep, semantic_keep,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS tokens,
       CAST(ROUND(1000000.0 * COUNT(*) /
                  SUM(COUNT(*)) OVER ()) AS BIGINT) AS doc_share_ppm,
       CAST(ROUND(1000000.0 * SUM(nt) /
                  SUM(SUM(nt)) OVER ()) AS BIGINT) AS token_share_ppm
FROM base
GROUP BY minhash_keep, semantic_keep
ORDER BY minhash_keep, semantic_keep
"""


def _policy_agreement_oracle() -> str:
    """Composes the SemDeDup prelude (v/u/c1..c3/assigned/ranked/
    removed over embeddings) with the MinHash chain (words/sh/sigs/
    bands/cand/sizes/inter/jac over documents) in ONE WITH clause —
    the CTE name sets are disjoint, so no prefixing is needed. The
    MinHash keep rule mirrors the lsh_pairs query exactly: a doc is
    removed iff it is the LARGER id of any LSH-candidate pair whose
    exact Jaccard ≥ 0.5 (greedy keep-first-by-id — the same
    blamed-by-any-lower rule class as SemDeDup's removal sweep)."""
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _SEMDEDUP_PRELUDE,
    )

    return (
        _SEMDEDUP_PRELUDE + _minhash_chain_sql() + _POLICY_AGREEMENT_TAIL
    )


@register(
    "dedup_policy_agreement_audit",
    oracle=_policy_agreement_oracle(),
    tags=("ext", "dedup", "minhash", "semdedup", "audit", "curation"),
    description="MinHash keep-set × SemDeDup keep-set 2×2 agreement "
    "contingency with doc and token mass per cell",
)
def dedup_policy_agreement_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The two dedup families audited AGAINST EACH OTHER — the
    comparison a curation team runs before choosing a policy (e.g.
    SemDeDup §4 measures overlap with exact/near dedup; Lee et al.
    2022 §6 compare suffix-array vs MinHash removal sets): lexical
    near-dup removal (MinHash+LSH candidates verified by exact
    Jaccard ≥ 0.5, greedy keep-first-by-id — the removed side of
    dedup_minhash_lsh_pairs) crossed with semantic removal
    (semantic_dedup's keep verdicts — the dedup_semantic_clusters
    configuration) over the embedded-document universe
    (doc_id = vec_id), as a 2×2 contingency carrying document counts
    AND token mass. The off-diagonal cells are the policy deltas:
    (minhash_keep=1, semantic_keep=0) is what ONLY semantic dedup
    would additionally remove (paraphrase-class redundancy), and
    (0, 1) is lexical near-dup mass semantic clustering misses.

    Determinism: both keep verdicts are the parent queries' own
    bit-pinned pipelines (md5 hash family; 1e-6-rounded cosine);
    the audit adds exact-integer counts/sums and two single-ROUND
    ppm divisions whose denominators are window sums OVER the ≤4
    grouped cells (the cells partition the universe exactly, so the
    totals come for free — no second pass over `base`, r11 review).

    Scale shape: the MinHash side is the banded-LSH candidate join
    (never all-pairs); the semantic side is the cid equi-join; the
    composition adds one doc_id equi-join between two N-row keep
    relations, a ≤4-row aggregate, and a 4-row window — nothing new
    crosses the wire that the parents don't move."""
    return _policy_agreement_frame(spark, sf_dir, n_centroids=16)


def _minhash_removed_ids(docs: DataFrame) -> DataFrame:
    """The MinHash removed-set as a 1-column doc_id relation (the
    DataFrame twin of _MRM_SQL) — shared by the policy-agreement
    frame and the distinct-2 dedup cross-check (round12_queries)."""
    return (
        D.verified_near_dup_pairs(docs, threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _policy_agreement_frame(
    spark: SparkSession, sf_dir: str, **sd_kwargs
) -> DataFrame:
    """ONE copy of the policy-agreement DataFrame pipeline,
    parameterized by the semantic_dedup configuration — the
    fixed-C=16 registered form and the derived-C production twin
    (round12_queries) differ only in the kwargs they pass through,
    exactly the _chain_audit_frame pattern (round10_queries)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("nt"),
    )
    mrm = _minhash_removed_ids(docs).withColumn("m", F.lit(1))
    emb = load_table(spark, sf_dir, "embeddings")
    sd = S.semantic_dedup(
        emb, threshold=0.35, n_iter=2, **sd_kwargs
    ).select(F.col("vec_id").alias("doc_id"), "keep")
    base = (
        docs.join(sd, "doc_id")
        .join(mrm, "doc_id", "left")
        .select(
            "nt",
            F.when(F.col("m").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("minhash_keep"),
            F.col("keep").cast("int").alias("semantic_keep"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    return (
        base.groupBy("minhash_keep", "semantic_keep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("tokens"),
        )
        .select(
            "minhash_keep",
            "semantic_keep",
            "n_docs",
            "tokens",
            F.round(
                F.lit(1000000.0)
                * F.col("n_docs")
                / F.sum("n_docs").over(w)
            )
            .cast("long")
            .alias("doc_share_ppm"),
            F.round(
                F.lit(1000000.0)
                * F.col("tokens")
                / F.sum("tokens").over(w)
            )
            .cast("long")
            .alias("token_share_ppm"),
        )
        .orderBy("minhash_keep", "semantic_keep")
    )


# ---------------------------------------------------------------------------
# Critical-batch training schedule: B_simple (GNS) × the packing
# grid → tokens-per-step and steps-per-epoch per context length.
# ---------------------------------------------------------------------------


def _critical_batch_schedule_oracle() -> str:
    """The GNS prelude's exact scalars (q1: sq, n; ssq: ss2) turned
    into an exact-integer critical batch size — B_crit =
    max(1, ⌈A/B⌉ − 1) with A = sq·n·2²⁴ (HUGEINT) and B = ss2, so
    ceil(b_simple) is derived with NO float in the loop — crossed
    with the packing query's per-context sequence counts."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _PACKING_COUNTS_SQL,
        _gns_prelude,
    )

    return (
        _gns_prelude()
        + """,
"""
        + _PACKING_COUNTS_SQL
        + """,
bc AS (
  SELECT GREATEST(1, (CAST(sq AS HUGEINT) * n * 16777216
                      + NULLIF(ss2, 0) - 1)
                     // NULLIF(ss2, 0) - 1) AS bcrit,
         ROUND(((CAST(sq AS DOUBLE) * n) * 16777216.0) /
               CAST(NULLIF(ss2, 0) AS DOUBLE) - 1.0, 6) AS b_simple
  FROM q1, ssq
)
SELECT CAST(per.ctx AS BIGINT) AS ctx_len,
       bc.b_simple,
       CAST(bc.bcrit AS BIGINT) AS b_critical,
       CAST(bc.bcrit * per.ctx AS BIGINT) AS tokens_per_step,
       per.total_tokens,
       per.n_seq_padded,
       CAST((per.total_tokens + per.ctx - 1) // per.ctx AS BIGINT)
         AS n_seq_packed,
       CAST((per.n_seq_padded + bc.bcrit - 1) // bc.bcrit AS BIGINT)
         AS steps_per_epoch_padded,
       CAST(((per.total_tokens + per.ctx - 1) // per.ctx + bc.bcrit - 1)
            // bc.bcrit AS BIGINT) AS steps_per_epoch_packed
FROM per CROSS JOIN bc
ORDER BY ctx_len
"""
    )


@register(
    "training_critical_batch_schedule",
    oracle=_critical_batch_schedule_oracle(),
    tags=("ext", "ml", "training", "batch-size", "gns", "packing"),
    description="training schedule at the critical batch size: "
    "B_simple x packing grid -> tokens/step and steps/epoch per "
    "context length",
)
def training_critical_batch_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The table a training run actually schedules from (McCandlish
    et al. 2018 §2.3 turn B_simple into a batch-size/step-count
    schedule; every pretraining config derives steps-per-epoch from
    exactly these numbers): the gradient noise scale's critical
    batch size crossed with the packing grid — per context length,
    tokens per optimizer step at B_crit sequences/step and the
    resulting steps per epoch under both batch-construction
    strategies (padded one-doc-per-sequence vs concatenated
    packing, the training_packing_efficiency definitions).

    Determinism: B_crit = max(1, ⌈A/B⌉ − 1) is EXACT-INTEGER
    ceiling division of the GNS query's hash-verified scalars
    (A = sq·n·2²⁴ in HUGEINT / DECIMAL(38,0) — ~10²² at sf0.1, far
    under both engines' 10³⁸ cliffs; ⌈A/B⌉ = (A+B−1) div B on
    positive operands, where Spark div == DuckDB //); every other
    column is exact integer arithmetic; b_simple reuses the GNS
    query's pinned single-expression emission. Degenerate guard
    (r11 ADVICE): B = NULLIF(ss2, 0) on BOTH engines, so an
    all-zero gradient-sum corpus (representable: every rounded
    per-position gradient sum 0) yields b_simple = NULL and
    bcrit = GREATEST(1, NULL) = 1 identically — both engines'
    GREATEST skips NULLs — instead of DuckDB raising
    division-by-zero while Spark returns NULL
    (tests/test_round12_fixes.py pins the scalar identity).

    Scale shape: the GNS gradient pass (one corpus scan + 65-long
    combined reduce) and the packing pass (one tokenize-count scan,
    3-row grid) — both parents' shapes unchanged — then a 1-row
    broadcast of the schedule scalars against the 3-row grid. At
    100 TB this adds nothing to what the parents already move."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _gns_scalar_frame,
        _packing_counts_frame,
    )

    bc = _gns_scalar_frame(spark, sf_dir).selectExpr(
        "GREATEST(CAST(1 AS BIGINT), "
        "(CAST(sq AS DECIMAL(38,0)) * n * 16777216 + NULLIF(ss2, 0)"
        " - 1) div NULLIF(ss2, 0) - 1) AS bcrit",
        "ROUND(((CAST(sq AS DOUBLE) * n) * 16777216.0) / "
        "CAST(NULLIF(ss2, 0) AS DOUBLE) - 1.0, 6) AS b_simple",
    )
    pk = _packing_counts_frame(spark, sf_dir).drop("n_docs")
    packed = F.expr("(total_tokens + ctx - 1) div ctx")
    return (
        pk.crossJoin(F.broadcast(bc))
        .select(
            F.col("ctx").cast("long").alias("ctx_len"),
            "b_simple",
            F.col("bcrit").cast("long").alias("b_critical"),
            (F.col("bcrit") * F.col("ctx"))
            .cast("long")
            .alias("tokens_per_step"),
            "total_tokens",
            "n_seq_padded",
            packed.cast("long").alias("n_seq_packed"),
            F.expr("(n_seq_padded + bcrit - 1) div bcrit")
            .cast("long")
            .alias("steps_per_epoch_padded"),
            F.expr(
                "((total_tokens + ctx - 1) div ctx + bcrit - 1)"
                " div bcrit"
            )
            .cast("long")
            .alias("steps_per_epoch_packed"),
        )
        .orderBy("ctx_len")
    )


# ---------------------------------------------------------------------------
# Distinct-n diversity: the generation-diversity metric applied as a
# corpus audit, per source and n-gram order.
# ---------------------------------------------------------------------------


# The (source, n, gram) relation for n ∈ {1,2,3} — ONE copy shared
# by the exact distinct-n oracle and the HLL guarantee-audit twin
# (round12_queries), which differ only in the SELECT they attach.
_NGRAM_GRAMS_SQL = """
WITH words AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT source, 1 AS n, UNNEST(w) AS gram FROM words
  UNION ALL
  SELECT source, 2 AS n, array_to_string(w[i:i+1], ' ') AS gram
  FROM words, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2
  UNION ALL
  SELECT source, 3 AS n, array_to_string(w[i:i+2], ' ') AS gram
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3
)"""


@register(
    "text_distinct_ngram_diversity",
    oracle=_NGRAM_GRAMS_SQL
    + """
SELECT source, n,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
       CAST(ROUND(1000000.0 * COUNT(DISTINCT gram) / COUNT(*))
            AS BIGINT) AS distinct_ppm
FROM grams GROUP BY source, n ORDER BY source, n
""",
    tags=("ext", "text", "diversity", "ngram", "curation"),
    description="distinct-n diversity per source: unique/total "
    "n-gram ratio for n in {1,2,3}",
)
def text_distinct_ngram_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct-n (Li et al. 2016, 'A Diversity-Promoting Objective
    Function for Neural Conversation Models') applied as a CORPUS
    audit: per source, unique n-grams over total n-grams for
    n ∈ {1,2,3}. Low distinct-n flags templated/boilerplate-heavy
    sources (the repetition signal the Gopher rules catch per-doc,
    here measured corpus-wide where per-doc filters cannot see it
    — two docs can each be clean while the source emits the same
    boilerplate thousands of times). Read with
    text_repetition_scores (per-doc) and dedup_token_savings_by_
    source (exact-dup mass): a source with high dedup survival but
    low distinct-2 is paraphrase-class redundancy — exactly what
    the SemDeDup pass is for.

    Determinism: n-gram sets are exact strings from the corpus
    whitespace convention (the _SHINGLE_CTE slice idiom); counts
    and distinct counts are exact BIGINTs; the one float is a
    single ROUNDed ppm division.

    Scale shape: one tokenize per n (three scans of the same
    column), a (source, n, gram)-keyed hash aggregate for the
    distinct count, then a |sources|×3-row aggregate. The gram
    relation shuffles hashes of short strings — the MinHash
    signature discipline (never document bodies beyond the grams
    themselves). At 100 TB distinct-count-exact is the honest
    form; the approx_distinct family (HLL) is the registered
    escape hatch when ±2% suffices — and
    text_distinct_ngram_diversity_hll (round12_queries) registers
    exactly that form, guarantee-audited against this one's exact
    counts in a single shared aggregate pass."""
    grams = _ngram_grams_frame(spark, sf_dir)
    return (
        grams.groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.countDistinct("gram").cast("long").alias("n_distinct"),
        )
        .select(
            "source",
            "n",
            "n_grams",
            "n_distinct",
            F.round(
                F.lit(1000000.0) * F.col("n_distinct") / F.col("n_grams")
            )
            .cast("long")
            .alias("distinct_ppm"),
        )
        .orderBy("source", "n")
    )


def _ngram_grams_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE copy of the (source, n, gram) relation for n ∈ {1,2,3} —
    the exact distinct-n query and its HLL guarantee-audit twin
    (round12_queries) attach different aggregates to it."""
    w = load_table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("w")
    )
    uni = w.select(
        "source", F.lit(1).alias("n"), F.explode("w").alias("gram")
    )
    bi = (
        w.filter(F.size("w") >= 2)
        .select(
            "source",
            F.lit(2).alias("n"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> array_join(slice(w, i, 2), ' '))"
                )
            ).alias("gram"),
        )
    )
    tri = (
        w.filter(F.size("w") >= 3)
        .select(
            "source",
            F.lit(3).alias("n"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    " i -> array_join(slice(w, i, 3), ' '))"
                )
            ).alias("gram"),
        )
    )
    return uni.unionByName(bi).unionByName(tri)


# ---------------------------------------------------------------------------
# Chinchilla data budget: is THIS corpus big enough for
# compute-optimal training at each model scale?
# ---------------------------------------------------------------------------


# The candidate model-scale grid — ONE copy shared by the Chinchilla
# budget below and the curation funnel (round12_queries), on BOTH
# engines: revising the scale list revises every budget table
# together (self-review r12).
_MODEL_SCALES: tuple[int, ...] = (
    125000000,
    1000000000,
    8000000000,
    70000000000,
)

_MODEL_GRID_SQL = (
    "grid AS (\n  SELECT UNNEST(["
    + ", ".join(str(n) for n in _MODEL_SCALES)
    + "])\n    AS n_params\n)"
)


def _model_scale_grid(spark: SparkSession) -> DataFrame:
    """The 4-row scale grid as a broadcast relation (the Spark twin
    of _MODEL_GRID_SQL)."""
    return F.broadcast(
        spark.createDataFrame(
            [(n,) for n in _MODEL_SCALES], "n_params long"
        )
    )


@register(
    "training_chinchilla_data_budget",
    oracle="""
WITH t AS (
  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
    AS corpus_tokens
  FROM documents
),
"""
    + _MODEL_GRID_SQL
    + """
SELECT g.n_params,
       CAST(20 * g.n_params AS BIGINT) AS d_opt_tokens,
       CAST(120 * CAST(g.n_params AS HUGEINT) * g.n_params AS DOUBLE)
         AS flops_budget,
       t.corpus_tokens,
       ROUND(CAST(20 * g.n_params AS DOUBLE) / t.corpus_tokens, 4)
         AS epochs_needed,
       CAST(GREATEST(0, 20 * g.n_params - t.corpus_tokens) AS BIGINT)
         AS tokens_short
FROM grid g CROSS JOIN t
ORDER BY g.n_params
""",
    tags=("ext", "ml", "training", "scaling-law", "curation"),
    description="Chinchilla data budget: compute-optimal token "
    "requirement vs this corpus at 4 model scales",
)
def training_chinchilla_data_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The first table of every pretraining data plan (Hoffmann et
    al. 2022, 'Training Compute-Optimal Large Language Models':
    D_opt ≈ 20·N tokens per parameter, C ≈ 6·N·D FLOPs): at each
    candidate model scale, the compute-optimal token requirement,
    how many epochs over THIS corpus that implies, and the token
    shortfall — the number that decides whether the curation
    pipeline must go collect more data before the run is even
    schedulable. Read with training_critical_batch_schedule (how
    fast those tokens can be consumed per step) and
    data_scaling_unigram_nll_curve (what the marginal data buys).

    Determinism: every column is exact integer arithmetic (the
    FLOPs budget 120·N² runs in HUGEINT / DECIMAL(38,0) — 5.9×10²³
    at N=70e9 overflows int64 — and both engines convert the SAME
    exact integer to double once); epochs_needed is the single
    ROUNDed division.

    Scale shape: one tokenize-count scan reduced to a 1-row total,
    crossed with a 4-row literal grid — the cheapest query in the
    family, and the one a 100 TB corpus answers with the same
    1-row × 4-row cross."""
    t = (
        load_table(spark, sf_dir, "documents")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("corpus_tokens")
        )
    )
    grid = _model_scale_grid(spark)
    return (
        grid.crossJoin(F.broadcast(t))
        .select(
            "n_params",
            (F.lit(20) * F.col("n_params"))
            .cast("long")
            .alias("d_opt_tokens"),
            (
                F.lit(120).cast("decimal(38,0)")
                * F.col("n_params")
                * F.col("n_params")
            )
            .cast("double")
            .alias("flops_budget"),
            "corpus_tokens",
            F.round(
                (F.lit(20) * F.col("n_params")).cast("double")
                / F.col("corpus_tokens"),
                4,
            ).alias("epochs_needed"),
            F.greatest(
                F.lit(0).cast("long"),
                F.lit(20) * F.col("n_params") - F.col("corpus_tokens"),
            )
            .cast("long")
            .alias("tokens_short"),
        )
        .orderBy("n_params")
    )
