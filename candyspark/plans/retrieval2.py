"""Round-3 retrieval-evaluation additions: MRR and ERR.

ndcg_eval (plans/retrieval.py) grades a single ranking against graded
judgments; this module adds the two other standard ranking metrics a
retrieval pipeline reports — Mean Reciprocal Rank (first-relevant position,
the navigational-query metric) and Expected Reciprocal Rank (Chapelle 2009's
cascade-model metric, which discounts a position by the probability the
user already stopped at a more relevant document above it).

Both run MULTI-QUERY (the batch_retrieval posture): the query set is a
relation joined against one shared tokenize-once tf index, so 4 queries or
40,000 produce the same plan shape. Per-query ranking is one window
partitioned BY QUERY (a keyed sort, never global); everything after the
top-10 filter is a ≤10-row-per-query relation. Determinism: scores and
per-position gains are single closed-form double expressions on exact
integer aggregates, snapped through decimals; ERR's cascade product uses an
exact-decimal cumulative sum of snapped ln(1−R) terms (R ≤ 7/8 < 1 by
construction, so the log never sees zero).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.operators.text import tokens
from candyspark.plans.retrieval import (
    HITS_SQL,
    QUERY_TERMS,
    QUERY_TERMS_SQL,
    bm25_corpus_sql,
    corpus_totals,
    doc_lengths,
    query_tf,
    scored_hits,
)
from candyspark.sources.readers import fan_out, load_table


def _corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The tokenized documents and their lengths, left lazy: the rankers in
    plans/retrieval checkpoint dl and tf, these evaluators re-derive them."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks"))
    return toks, doc_lengths(toks)


def _saturation(b: float) -> Column:
    """BM25 saturation tf/(tf + k1·(1 − b + b·dl/avgdl)), k1 = 1.2, over
    :func:`scored_hits`: orderings for different b genuinely differ — any
    pure function of tf/dl would rank identically."""
    return snap_round(
        F.col("tf").cast("double")
        / (
            F.col("tf").cast("double")
            + 1.2
            * (
                (1.0 - b)
                + b
                * F.col("dl").cast("double")
                * F.col("n_docs").cast("double")
                / F.col("sumdl").cast("double")
            )
        ),
        6,
    )


def _saturation_sql(b: float) -> str:
    return f"""CAST(ROUND(CAST(
               CAST(tf AS DOUBLE)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * ((1.0 - {b}) + {b} * CAST(dl AS DOUBLE)
                           * CAST(n_docs AS DOUBLE) / CAST(sumdl AS DOUBLE)))
               AS DECIMAL(28,8)), 6) AS DOUBLE)"""


def _per_term_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scaffold: per (term, doc) tf over the 4-term query relation,
    length-normalized score, per-term rank (window keyed by term), top-10."""
    toks, dl = _corpus(spark, sf_dir)
    scored = (
        scored_hits(query_tf(toks, QUERY_TERMS), dl, corpus_totals(dl))
        .select(
            "term",
            "doc_id",
            "tf",
            snap_round(
                (2 * F.col("tf")).cast("double")
                * F.col("sumdl").cast("double")
                / (
                    (2 * F.col("tf")).cast("double") * F.col("sumdl").cast("double")
                    + 3.0 * F.col("dl").cast("double") * F.col("n_docs").cast("double")
                ),
                6,
            ).alias("score"),
        )
    )
    pos = F.row_number().over(
        Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    )
    return scored.select("term", "doc_id", "tf", pos.cast("long").alias("pos")).filter(
        F.col("pos") <= 10
    )


_RANKED_SQL = f"""
{bm25_corpus_sql(QUERY_TERMS_SQL)},
scored AS (
    SELECT term, doc_id, tf,
           CAST(ROUND(CAST(
               CAST(2 * tf AS DOUBLE) * CAST(sumdl AS DOUBLE)
               / (CAST(2 * tf AS DOUBLE) * CAST(sumdl AS DOUBLE)
                  + 3.0 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS score
    FROM {HITS_SQL}
),
ranked AS (
    SELECT term, doc_id, tf,
           CAST(ROW_NUMBER() OVER (PARTITION BY term
                                   ORDER BY score DESC, doc_id) AS BIGINT) AS pos
    FROM scored
    QUALIFY pos <= 10
)
"""


def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank @10 of the length-normalized tf ranker over the
    4-term query set: relevance is binary (tf ≥ 4 — the grade-≥2 band of
    ndcg_eval's judgments), RR = 1/position of the FIRST relevant document
    in the top 10 (0 if none). One row per query plus the '__mean__'
    summary row — both the per-query diagnostic and the headline number a
    ranking dashboard wants, in one frame.
    """
    ranked = _per_term_ranked(spark, sf_dir)
    per_term = ranked.groupBy("term").agg(
        F.sum(F.when(F.col("tf") >= 4, 1).otherwise(0)).cast("long").alias(
            "n_relevant_top10"
        ),
        F.min(F.when(F.col("tf") >= 4, F.col("pos"))).alias("first_pos_raw"),
    )
    rows = per_term.select(
        "term",
        "n_relevant_top10",
        F.coalesce(F.col("first_pos_raw"), F.lit(0)).cast("long").alias("first_pos"),
        F.coalesce(
            snap_round(F.lit(1.0) / F.col("first_pos_raw").cast("double"), 6),
            F.lit(0.0),
        ).alias("rr"),
    )
    mean_row = rows.agg(
        F.lit("__mean__").alias("term"),
        F.sum("n_relevant_top10").cast("long").alias("n_relevant_top10"),
        F.lit(0).cast("long").alias("first_pos"),
        snap_round(
            F.sum(F.col("rr").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("rr"),
    )
    return rows.unionByName(mean_row)


MRR_EVAL_SQL = f"""
WITH {_RANKED_SQL},
per_term AS (
    SELECT term,
           CAST(SUM(CASE WHEN tf >= 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_relevant_top10,
           MIN(CASE WHEN tf >= 4 THEN pos END) AS first_pos_raw
    FROM ranked
    GROUP BY term
),
rows_ AS (
    SELECT term, n_relevant_top10,
           CAST(COALESCE(first_pos_raw, 0) AS BIGINT) AS first_pos,
           COALESCE(CAST(ROUND(CAST(1.0 / CAST(first_pos_raw AS DOUBLE)
                    AS DECIMAL(28,8)), 6) AS DOUBLE), 0.0) AS rr
    FROM per_term
)
SELECT term, n_relevant_top10, first_pos, rr FROM rows_
UNION ALL
SELECT '__mean__' AS term,
       CAST(SUM(n_relevant_top10) AS BIGINT) AS n_relevant_top10,
       CAST(0 AS BIGINT) AS first_pos,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(rr AS DECIMAL(10,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rr
FROM rows_
"""


def q_err_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank @10 (Chapelle 2009): the cascade-model
    ranking metric — ERR = Σᵢ (1/i)·Rᵢ·Πⱼ<ᵢ(1−Rⱼ), where Rᵢ =
    (2^gradeᵢ−1)/2^max_grade is the stop probability at position i. Unlike
    NDCG's position discount, a highly-relevant document ABSORBS the credit
    of everything ranked below it — the metric that actually penalizes
    burying the answer under near-duplicates.

    Grades reuse ndcg_eval's tf bands (≥8→3, ≥4→2, ≥2→1, else 0), so
    R ≤ 7/8 and ln(1−R) is finite; the cascade product is
    exp(exact-decimal cumsum of 9-dp-snapped logs) per position — both
    engines run identical algebra on identical integers. Per-query
    windows over ≤10 rows; one '__mean__' summary row.
    """
    ranked = _per_term_ranked(spark, sf_dir)
    graded = ranked.select(
        "term",
        "pos",
        F.when(F.col("tf") >= 8, 3)
        .when(F.col("tf") >= 4, 2)
        .when(F.col("tf") >= 2, 1)
        .otherwise(0)
        .cast("long")
        .alias("g"),
    ).select(
        "term",
        "pos",
        "g",
        ((F.pow(F.lit(2.0), F.col("g").cast("double")) - 1.0) / 8.0).alias("r"),
    )
    wp = (
        Window.partitionBy("term")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ln1r = F.round(F.log(1.0 - F.col("r")).cast("decimal(18,9)"), 9)
    terms = graded.select(
        "term",
        "g",
        F.round(
            (
                F.col("r")
                * F.exp(
                    F.coalesce(F.sum(ln1r).over(wp), F.lit(0).cast("decimal(18,9)"))
                    .cast("double")
                )
                / F.col("pos").cast("double")
            ).cast("decimal(16,10)"),
            10,
        ).alias("contrib"),
    )
    per_term = terms.groupBy("term").agg(
        F.sum(F.when(F.col("g") > 0, 1).otherwise(0)).cast("long").alias("n_graded"),
        snap_round(F.sum("contrib").cast("double"), 6).alias("err_10"),
    )
    mean_row = per_term.agg(
        F.lit("__mean__").alias("term"),
        F.sum("n_graded").cast("long").alias("n_graded"),
        snap_round(
            F.sum(F.col("err_10").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("err_10"),
    )
    return per_term.unionByName(mean_row)


ERR_EVAL_SQL = f"""
WITH {_RANKED_SQL},
graded AS (
    SELECT term, pos,
           CAST(CASE WHEN tf >= 8 THEN 3 WHEN tf >= 4 THEN 2
                     WHEN tf >= 2 THEN 1 ELSE 0 END AS BIGINT) AS g,
           (POW(2.0, CAST(CASE WHEN tf >= 8 THEN 3 WHEN tf >= 4 THEN 2
                               WHEN tf >= 2 THEN 1 ELSE 0 END AS DOUBLE)) - 1.0)
               / 8.0 AS r
    FROM ranked
),
terms AS (
    SELECT term, g,
           ROUND(CAST(
               r * EXP(CAST(COALESCE(SUM(ROUND(CAST(LN(1.0 - r) AS DECIMAL(18,9)), 9))
                       OVER (PARTITION BY term ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       CAST(0 AS DECIMAL(18,9))) AS DOUBLE))
               / CAST(pos AS DOUBLE)
               AS DECIMAL(16,10)), 10) AS contrib
    FROM graded
),
per_term AS (
    SELECT term,
           CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_graded,
           CAST(ROUND(CAST(CAST(SUM(contrib) AS DOUBLE) AS DECIMAL(28,8)), 6)
               AS DOUBLE) AS err_10
    FROM terms
    GROUP BY term
)
SELECT term, n_graded, err_10 FROM per_term
UNION ALL
SELECT '__mean__' AS term,
       CAST(SUM(n_graded) AS BIGINT) AS n_graded,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(err_10 AS DECIMAL(10,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS err_10
FROM per_term
"""


def q_rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber 2010, p = 0.9, depth 10) between two
    length-penalty variants of the ranker (mild b=0.5 vs strong b=1.5
    normalization) for each query — the top-weighted ranking-agreement
    metric a retrieval pipeline uses to quantify how much a scorer CHANGE
    reshuffles what users actually see (Kendall's τ weights all positions
    equally; RBO decays by p^d, matching inspection probability).

    RBO_min = (1−p)·Σ_{d≤10} p^{d−1}·X_d/d, with X_d the prefix-overlap
    size. Only documents in BOTH top-10s contribute, so X_d =
    |{docs: max(rank_A, rank_B) ≤ d}| — one join of the two per-query
    top-10 relations against a 10-row depth table, left-joined back to
    the query list so zero-overlap queries still report rbo = 0. Exact
    integer overlaps, snapped p-power weights, exact decimal sums;
    '__mean__' row appended. Ranks are keyed windows (per query).
    """
    toks, dl = _corpus(spark, sf_dir)
    scored = (
        scored_hits(query_tf(toks, QUERY_TERMS), dl, corpus_totals(dl))
        .select(
            "term", "doc_id", _saturation(0.25).alias("sa"), _saturation(0.75).alias("sb")
        )
        .localCheckpoint()  # two rank consumers
    )
    ra = F.row_number().over(Window.partitionBy("term").orderBy(F.desc("sa"), "doc_id"))
    rb = F.row_number().over(Window.partitionBy("term").orderBy(F.desc("sb"), "doc_id"))
    top_a = scored.select("term", "doc_id", ra.cast("long").alias("ra")).filter(
        F.col("ra") <= 10
    )
    top_b = scored.select("term", "doc_id", rb.cast("long").alias("rb")).filter(
        F.col("rb") <= 10
    )
    both = top_a.join(top_b, ["term", "doc_id"]).select(
        "term", F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, 11).select(F.col("id").cast("long").alias("dpt"))
    contribs = (
        both.crossJoin(F.broadcast(depths))
        .filter(F.col("m") <= F.col("dpt"))
        .groupBy("term", "dpt")
        .agg(F.count(F.lit(1)).cast("long").alias("x_d"))
        .select(
            "term",
            F.round(
                (
                    0.1
                    * F.pow(F.lit(0.9), (F.col("dpt") - 1).cast("double"))
                    * F.col("x_d").cast("double")
                    / F.col("dpt").cast("double")
                ).cast("decimal(16,10)"),
                10,
            ).alias("contrib"),
        )
        .groupBy("term")
        .agg(F.sum("contrib").alias("s"))
    )
    qterms = scored.select("term").distinct()
    per_term = qterms.join(contribs, "term", "left").select(
        "term",
        F.coalesce(snap_round(F.col("s").cast("double"), 6), F.lit(0.0)).alias("rbo"),
    )
    mean_row = per_term.agg(
        F.lit("__mean__").alias("term"),
        snap_round(
            F.sum(F.col("rbo").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("rbo"),
    )
    return per_term.unionByName(mean_row)


RBO_RANK_AGREEMENT_SQL = f"""
WITH {bm25_corpus_sql(QUERY_TERMS_SQL)},
scored AS (
    SELECT term, doc_id,
           {_saturation_sql(0.25)} AS sa,
           {_saturation_sql(0.75)} AS sb
    FROM {HITS_SQL}
),
top_a AS (
    SELECT term, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY term
                                   ORDER BY sa DESC, doc_id) AS BIGINT) AS ra
    FROM scored
    QUALIFY ra <= 10
),
top_b AS (
    SELECT term, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY term
                                   ORDER BY sb DESC, doc_id) AS BIGINT) AS rb
    FROM scored
    QUALIFY rb <= 10
),
both_r AS (
    SELECT term, GREATEST(ra, rb) AS m
    FROM top_a JOIN top_b USING (term, doc_id)
),
contribs AS (
    SELECT term, SUM(contrib) AS s
    FROM (
        SELECT term,
               ROUND(CAST(0.1 * POW(0.9, CAST(dpt - 1 AS DOUBLE))
                          * CAST(x_d AS DOUBLE) / CAST(dpt AS DOUBLE)
                     AS DECIMAL(16,10)), 10) AS contrib
        FROM (
            SELECT term, dpt, CAST(COUNT(*) AS BIGINT) AS x_d
            FROM both_r CROSS JOIN (SELECT unnest(range(1, 11)) AS dpt)
            WHERE m <= dpt
            GROUP BY term, dpt
        )
    )
    GROUP BY term
),
per_term AS (
    SELECT term,
           COALESCE(CAST(ROUND(CAST(CAST(s AS DOUBLE) AS DECIMAL(28,8)), 6)
                    AS DOUBLE), 0.0) AS rbo
    FROM (SELECT DISTINCT term FROM scored)
    LEFT JOIN contribs USING (term)
)
SELECT term, rbo FROM per_term
UNION ALL
SELECT '__mean__' AS term,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(rbo AS DECIMAL(10,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS rbo
FROM per_term
"""


def q_interleave_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-interleaving online evaluation (Joachims 2003) of the two
    BM25 length-normalization ranker variants (b=0.25 vs b=0.75): merge both top-10s by best rank,
    simulate clicks with the tf ≥ 4 relevance model on the interleaved
    top-10, and credit each click to the ranker that placed the document
    higher — the A/B-free way retrieval teams compare rankers on live
    traffic, here replayed deterministically. RBO says how much the
    rankings DIFFER; interleaving says which one users would PREFER.

    The interleaved order is one keyed window over the ≤20-row-per-query
    union (rank = min of the two positions, absent docs at +∞, exact
    integer tie-breaks — no sequential pick loop: balanced interleaving
    admits this closed relational form, unlike team-draft's stateful
    drafting). Per-query credit counts are exact integers; the verdict
    row per query plus the '__wins__' summary.
    """
    toks, dl = _corpus(spark, sf_dir)
    scored = (
        scored_hits(query_tf(toks, QUERY_TERMS), dl, corpus_totals(dl))
        .select(
            "term",
            "doc_id",
            "tf",
            _saturation(0.25).alias("sa"),
            _saturation(0.75).alias("sb"),
        )
        .localCheckpoint()
    )
    ra = F.row_number().over(Window.partitionBy("term").orderBy(F.desc("sa"), "doc_id"))
    rb = F.row_number().over(Window.partitionBy("term").orderBy(F.desc("sb"), "doc_id"))
    both = (
        scored.select(
            "term",
            "doc_id",
            "tf",
            F.when(ra <= 10, ra).otherwise(F.lit(99)).cast("long").alias("ra_c"),
            F.when(rb <= 10, rb).otherwise(F.lit(99)).cast("long").alias("rb_c"),
        )
        .filter((F.col("ra_c") < 99) | (F.col("rb_c") < 99))
    )
    ipos = F.row_number().over(
        Window.partitionBy("term").orderBy(
            F.least("ra_c", "rb_c"),
            (F.col("ra_c") <= F.col("rb_c")).cast("int"),
            "doc_id",
        )
    )
    inter = both.select(
        "term",
        "tf",
        "ra_c",
        "rb_c",
        ipos.cast("long").alias("ipos"),
    ).filter(F.col("ipos") <= 10)
    per_term = inter.groupBy("term").agg(
        F.sum(
            F.when((F.col("tf") >= 4) & (F.col("ra_c") < F.col("rb_c")), 1).otherwise(0)
        )
        .cast("long")
        .alias("clicks_a"),
        F.sum(
            F.when((F.col("tf") >= 4) & (F.col("rb_c") < F.col("ra_c")), 1).otherwise(0)
        )
        .cast("long")
        .alias("clicks_b"),
    )
    rows = per_term.select(
        "term",
        "clicks_a",
        "clicks_b",
        F.when(F.col("clicks_a") > F.col("clicks_b"), "A")
        .when(F.col("clicks_b") > F.col("clicks_a"), "B")
        .otherwise("tie")
        .alias("winner"),
    )
    summary = rows.agg(
        F.lit("__wins__").alias("term"),
        F.sum(F.when(F.col("winner") == "A", 1).otherwise(0)).cast("long").alias(
            "clicks_a"
        ),
        F.sum(F.when(F.col("winner") == "B", 1).otherwise(0)).cast("long").alias(
            "clicks_b"
        ),
        F.lit("summary").alias("winner"),
    )
    return rows.unionByName(summary)


INTERLEAVE_EVAL_SQL = f"""
WITH {bm25_corpus_sql(QUERY_TERMS_SQL)},
scored AS (
    SELECT term, doc_id, tf,
           {_saturation_sql(0.25)} AS sa,
           {_saturation_sql(0.75)} AS sb
    FROM {HITS_SQL}
),
both_r AS (
    SELECT term, doc_id, tf,
           CASE WHEN ra0 <= 10 THEN ra0 ELSE 99 END AS ra_c,
           CASE WHEN rb0 <= 10 THEN rb0 ELSE 99 END AS rb_c
    FROM (
        SELECT term, doc_id, tf,
               CAST(ROW_NUMBER() OVER (PARTITION BY term
                                       ORDER BY sa DESC, doc_id) AS BIGINT) AS ra0,
               CAST(ROW_NUMBER() OVER (PARTITION BY term
                                       ORDER BY sb DESC, doc_id) AS BIGINT) AS rb0
        FROM scored
    )
    WHERE ra0 <= 10 OR rb0 <= 10
),
inter AS (
    SELECT term, tf, ra_c, rb_c,
           CAST(ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY LEAST(ra_c, rb_c),
                        CAST(ra_c <= rb_c AS INTEGER),
                        doc_id) AS BIGINT) AS ipos
    FROM both_r
    QUALIFY ipos <= 10
),
per_term AS (
    SELECT term,
           CAST(SUM(CASE WHEN tf >= 4 AND ra_c < rb_c THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks_a,
           CAST(SUM(CASE WHEN tf >= 4 AND rb_c < ra_c THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks_b
    FROM inter
    GROUP BY term
),
rows_ AS (
    SELECT term, clicks_a, clicks_b,
           CASE WHEN clicks_a > clicks_b THEN 'A'
                WHEN clicks_b > clicks_a THEN 'B'
                ELSE 'tie' END AS winner
    FROM per_term
)
SELECT term, clicks_a, clicks_b, winner FROM rows_
UNION ALL
SELECT '__wins__' AS term,
       CAST(SUM(CASE WHEN winner = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS clicks_a,
       CAST(SUM(CASE WHEN winner = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS clicks_b,
       'summary' AS winner
FROM rows_
"""


def q_average_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Average Precision @10 over the 4-term query set: AP averages
    precision AT EACH relevant position, so it rewards putting *all* the
    relevant documents early, where MRR stops at the first and NDCG
    discounts by raw position. The third leg of the eval triad, same
    binary relevance band as mrr_eval (tf >= 4).

    AP@10 = sum_{k<=10, rel_k} P@k / min(R_total, 10), with R_total the
    CORPUS-wide relevant count per query (TREC convention) - so burying
    relevant docs below the cutoff is punished, not forgotten. P@k rides
    a per-query cumulative window over <=10 rows; R_total is one extra
    conditional aggregate on the same scored relation. Exact integers
    (cum-relevant, k, R) feed one snapped division per relevant hit,
    summed in DECIMAL.

    Scale: identical to mrr_eval - queries are a relation against the
    tokenize-once tf index; per-query windows, never a global sort. The
    corpus-wide R_total rollup is the only second aggregate, <=|terms|
    rows out.
    """
    ranked = _per_term_ranked(spark, sf_dir)
    toks, _ = _corpus(spark, sf_dir)
    rel_total = (
        query_tf(toks, QUERY_TERMS)
        .filter(F.col("tf") >= 4)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("r_total"))
    )
    w = Window.partitionBy("term").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    contrib = ranked.select(
        "term",
        "pos",
        (F.col("tf") >= 4).cast("long").alias("rel"),
    ).select(
        "term",
        "pos",
        "rel",
        F.sum("rel").over(w).cast("long").alias("cum_rel"),
    )
    per_term = (
        contrib.filter(F.col("rel") == 1)
        .select(
            "term",
            F.round(
                (F.col("cum_rel").cast("double") / F.col("pos").cast("double")).cast(
                    "decimal(18,8)"
                ),
                8,
            ).alias("p_at_k"),
        )
        .groupBy("term")
        .agg(F.sum("p_at_k").cast("decimal(28,8)").alias("sum_p"))
        .join(rel_total, "term", "right")
    )
    rows = per_term.select(
        "term",
        F.col("r_total").alias("n_relevant_corpus"),
        F.coalesce(
            snap_round(
                F.col("sum_p").cast("double")
                / F.least(F.col("r_total"), F.lit(10)).cast("double"),
                6,
            ),
            F.lit(0.0),
        ).alias("ap"),
    )
    mean_row = rows.agg(
        F.lit("__mean__").alias("term"),
        F.sum("n_relevant_corpus").cast("long").alias("n_relevant_corpus"),
        snap_round(
            F.sum(F.col("ap").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("ap"),
    )
    return rows.unionByName(mean_row)


AVERAGE_PRECISION_EVAL_SQL = f"""
WITH {_RANKED_SQL},
rel_total AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS r_total
    FROM tf WHERE tf >= 4 GROUP BY term
),
contrib AS (
    SELECT term, pos,
           CASE WHEN tf >= 4 THEN 1 ELSE 0 END AS rel,
           CAST(SUM(CASE WHEN tf >= 4 THEN 1 ELSE 0 END) OVER (
               PARTITION BY term ORDER BY pos ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_rel
    FROM ranked
),
per_term AS (
    SELECT term,
           CAST(SUM(CAST(ROUND(CAST(CAST(cum_rel AS DOUBLE) / pos
               AS DECIMAL(18,8)), 8) AS DECIMAL(18,8))) AS DECIMAL(28,8))
               AS sum_p
    FROM contrib
    WHERE rel = 1
    GROUP BY term
),
rows_ AS (
    SELECT rt.term,
           rt.r_total AS n_relevant_corpus,
           COALESCE(CAST(ROUND(CAST(CAST(sum_p AS DOUBLE)
               / LEAST(rt.r_total, 10) AS DECIMAL(28,8)), 6) AS DOUBLE), 0.0)
               AS ap
    FROM rel_total rt LEFT JOIN per_term p ON rt.term = p.term
)
SELECT term, n_relevant_corpus, ap FROM rows_
UNION ALL
SELECT '__mean__' AS term,
       CAST(SUM(n_relevant_corpus) AS BIGINT) AS n_relevant_corpus,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(ap AS DECIMAL(10,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS ap
FROM rows_
"""
