"""Retrieval-scoring and contamination queries over the documents table —
the corpus-indexing stage of an LLM-data pipeline (extension surface,
SURVEY.md §2.13; no reference counterpart — /root/reference has no text
operators at all, its string surface is format_number/format_string only,
src/data_processor.py:485-487,565-570).

Shared tokenizer/shingle semantics with operators/text.py so every text
operator in the engine agrees on token boundaries; every fragment is
mirrored bit-for-bit in the DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.operators.text import tokens, word_shingles
from candyspark.plans.extensions import _TOKS
from candyspark.sources.readers import fan_out, load_table


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf: ln((N+1)/(df+1)) + 1).

    Scale: term frequencies partial-aggregate map-side before the (doc,
    term) shuffle; document frequency derives from the tf relation (one
    extra term-keyed aggregate, never a rescan); the corpus size N is a
    1-row aggregate broadcast into the scoring projection. The final
    ranking windows on doc_id — vocabulary size never concentrates on one
    task. Ties order by term so ranking is total across engines.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            snap_round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + F.lit(1.0)
                ),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM t)
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term,
           CAST(ROUND(CAST(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
                AS DECIMAL(28,8)), 4) AS DOUBLE) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rank FROM (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
    FROM scored
) WHERE rank <= 3
ORDER BY doc_id, rank
"""


# word-8-gram shingles, distinct (mirror of text.word_shingles(k=8))
_SHINGLES8 = (
    "list_distinct(CASE WHEN len(toks) >= 8 THEN "
    "list_transform(range(1, len(toks) - 6), i -> array_to_string(list_slice(toks, i, i + 7), ' ')) "
    "ELSE [array_to_string(toks, ' ')] END)"
)


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which training documents share any
    word-8-gram with a held-out benchmark set (here: doc_id % 20 == 0 — a
    deterministic 5% slice standing in for an eval suite). Emits, per
    contaminated training doc, how many distinct 8-grams leak and how many
    benchmark docs they touch.

    Scale: both sides reduce to DISTINCT (doc, md5(shingle)) relations
    before the join — the join key is a fixed 32-byte digest, never text.
    The benchmark side is ~|eval suites|, orders of magnitude smaller than
    the corpus: at 100 TB, broadcast it (or a Bloom filter of its digests)
    so the corpus side never shuffles; here the equi-join states the
    semantics and AQE picks broadcast from size estimates.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id", F.explode(word_shingles("text", 8)).alias("s")
    ).select("doc_id", F.md5("s").alias("gk"))
    bench = (
        grams.filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("bench_id"), "gk")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % 20 != 0).distinct()
    return (
        train.join(bench, "gk")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gk").alias("shared_ngrams"),
            F.countDistinct("bench_id").alias("bench_docs"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_CHECK_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT doc_id, md5(s) AS gk
    FROM (SELECT doc_id, unnest({_SHINGLES8}) AS s FROM t)
),
bench AS (SELECT DISTINCT doc_id AS bench_id, gk FROM g WHERE doc_id % 20 = 0),
train AS (SELECT DISTINCT doc_id, gk FROM g WHERE doc_id % 20 != 0)
SELECT doc_id,
       COUNT(DISTINCT gk) AS shared_ngrams,
       COUNT(DISTINCT bench_id) AS bench_docs
FROM train JOIN bench USING (gk)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation through a registered Python UDTF in a LATERAL
    join — the declared-table-function surface (operators/udtf_ops.py; see
    its docstring for when a UDTF is and isn't the right 1→N form). The
    aggregation on top keeps the driver compare small: per-doc sentence
    count, max index, and total sentence characters."""
    import uuid

    from candyspark.operators.udtf_ops import register_udtfs

    register_udtfs(spark)
    view = f"docs_udtf_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT d.doc_id,
               COUNT(*) AS n_sentences,
               MAX(s.sent_idx) AS max_idx,
               CAST(SUM(LENGTH(s.sentence)) AS BIGINT) AS sent_chars
        FROM {view} d, LATERAL sentence_split(d.doc_id, d.text) s
        WHERE d.doc_id = s.doc_id
        GROUP BY d.doc_id
        ORDER BY d.doc_id
        """
    )


SENTENCES_UDTF_SQL = r"""
WITH s AS (
    SELECT doc_id,
           list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                       x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))),
                       x -> x != '') AS sents
    FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(len(sents) - 1 AS INT) AS max_idx,
       CAST(COALESCE(list_sum(list_transform(sents, x -> length(x))), 0) AS BIGINT) AS sent_chars
FROM s
WHERE len(sents) > 0
ORDER BY doc_id
"""


def q_lang_summary_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus summary through a TABLE-argument UDTF with
    PARTITION BY — SQL-callable per-group imperative aggregation
    (operators/udtf_ops.LangSummarizer). The oracle is the plain GROUP BY
    with a windowed best-doc pick, so the UDTF's partition feed, state
    reset between partitions, and terminate() emission are all under the
    hash check."""
    import uuid

    from candyspark.operators import text as X
    from candyspark.operators.udtf_ops import register_udtfs

    register_udtfs(spark)
    view = f"docs_scored_{uuid.uuid4().hex[:8]}"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        X.token_count("text").cast("bigint").alias("n_tokens"),
        X.quality_score("text").alias("quality_score"),
    )
    d.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT lang, n_docs, total_tokens, best_doc
        FROM lang_summary(TABLE(SELECT lang, doc_id, n_tokens, quality_score
                                FROM {view})
                          PARTITION BY lang)
        ORDER BY lang
        """
    )


from candyspark.plans.analytics import _QUALITY as _RL_QUALITY  # noqa: E402
from candyspark.plans.analytics import _TOKS as _RL_TOKS  # noqa: E402

LANG_SUMMARY_UDTF_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_RL_TOKS} AS toks FROM documents),
scored AS (
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           {_RL_QUALITY} AS quality_score
    FROM t
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY quality_score DESC, doc_id) AS rn
    FROM scored
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(CASE WHEN rn = 1 THEN doc_id END) AS best_doc
FROM ranked
GROUP BY lang
ORDER BY lang
"""


def q_first_words_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLYMORPHIC UDTF surface: ``first_words(doc_id, text, 3)``'s
    output schema (word_1..word_3) is computed by its static ``analyze()``
    at plan time from the constant argument (operators/udtf_ops.FirstWords)
    — schema-from-call-site table functions, the last of the UDTF forms.
    Oracle mirrors with list indexing (NULL past the end on both sides)."""
    import uuid

    from candyspark.operators.udtf_ops import register_udtfs

    register_udtfs(spark)
    view = f"docs_fw_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT fw.doc_id, fw.word_1, fw.word_2, fw.word_3
        FROM {view} d, LATERAL first_words(d.doc_id, d.text, 3) fw
        ORDER BY fw.doc_id
        """
    )


FIRST_WORDS_UDTF_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id, toks[1] AS word_1, toks[2] AS word_2, toks[3] AS word_3
FROM t
ORDER BY doc_id
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: top-50 terms by corpus frequency with the
    CUMULATIVE share of all token occurrences they cover — the "how big a
    vocab do we need" question every tokenizer build starts with.

    Term counting is the distributed part (map-side combine absorbs the
    Zipfian head before the term-keyed shuffle); the ranked cumulative
    window then runs over the tiny post-aggregate, single-partition BY
    DESIGN (≤ |vocab| rows, and only the top-50 leave the driver). Rank
    ties break lexically so both engines pick the same top-50.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"), 32)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rankw = Window.orderBy(F.desc("n"), "term")
    cumw = rankw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totw = Window.partitionBy()
    return (
        counts.select(
            "term",
            "n",
            F.row_number().over(rankw).alias("rnk"),
            snap_round(
                F.sum("n").over(cumw) / F.sum("n").over(totw), 6
            ).alias("cum_share"),
        )
        .filter(F.col("rnk") <= 50)
        .orderBy("rnk")
    )


VOCAB_COVERAGE_SQL = """
WITH counts AS (
    SELECT u.term, COUNT(*) AS n
    FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
    WHERE u.term <> ''
    GROUP BY u.term
),
ranked AS (
    SELECT term, n,
           ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk,
           CAST(ROUND(CAST(SUM(n) OVER (ORDER BY n DESC, term
                                        ROWS UNBOUNDED PRECEDING)
                           / CAST(SUM(n) OVER () AS DOUBLE)
                           AS DECIMAL(28,8)), 6) AS DOUBLE) AS cum_share
    FROM counts
)
SELECT term, n, rnk, cum_share
FROM ranked WHERE rnk <= 50
ORDER BY rnk
"""


def q_doc_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs document cosine similarity via an inverted index — the
    classic MapReduce similarity self-join (postings joined on term, dot
    products summed per document pair), the sparse-vector complement to
    operators/similarity's dense-embedding dup detection.

    Determinism: TF-IDF weights are snapped to DECIMAL(18,6) BEFORE any
    product, so dot products and squared norms are exact decimal sums
    (partial-order-independent); the single sqrt/divide at the end runs on
    identical doubles in both engines and is snapped at 6 dp.

    Scale: terms appearing in >5% of documents are pruned from the index
    (an exact integer predicate, df * 20 <= n_docs) — posting-list length,
    not corpus size, bounds the pair blow-up, and common-term lists are
    exactly the quadratic ones (standard all-pairs-similarity pruning,
    cf. Elsayed et al. pairwise-similarity-with-MapReduce). The join keys
    on term, the pair aggregate on (doc_a, doc_b), norms join back keyed
    on doc_id; top-50 via TakeOrdered.

    The tf index feeds its own document-frequency aggregate, and the
    pruned postings feed THREE consumers (norms + both self-join sides) —
    both are materialized once (localCheckpoint; the triangle-count
    lesson) so the corpus is tokenized exactly once, not five times.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0)
    postings = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 20 <= F.col("n_docs"))
        .select(
            "term",
            "doc_id",
            F.round((F.col("tf") * idf).cast("decimal(28,8)"), 6)
            .cast("decimal(18,6)")
            .alias("w"),
        )
        .localCheckpoint()
    )
    norms = postings.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    a, b = postings.alias("a"), postings.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            snap_round(
                F.col("dot").cast("double") / (F.col("norm_a") * F.col("norm_b")), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(50)
    )


DOC_COSINE_PAIRS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM t)
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
postings AS (
    SELECT term, doc_id,
           CAST(ROUND(CAST(tf * (LN((n_docs + 1.0) / (df + 1.0)) + 1.0)
                           AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS w
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    WHERE df * 20 <= n_docs
),
norms AS (
    SELECT doc_id, SQRT(CAST(SUM(w * w) AS DOUBLE)) AS norm
    FROM postings GROUP BY doc_id
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
    FROM postings a JOIN postings b
      ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(ROUND(CAST(CAST(dot AS DOUBLE) / (na.norm * nb.norm)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS cosine
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
ORDER BY cosine DESC, doc_a, doc_b
LIMIT 50
"""


#: The 4-term query every single-query ranker here (and plans/retrieval2)
#: scores the corpus against.
QUERY_TERMS = ("hash", "join", "stream", "spark")
QUERY_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)


def doc_lengths(toks: DataFrame) -> DataFrame:
    """``(doc_id, dl)``: each document's token count, 16 bytes/doc. The
    tokenize-once rankers materialize it (localCheckpoint) when it feeds
    both the totals and the scored hits, so the corpus never rescans (at
    petabyte corpora swap the checkpoint for persist(DISK_ONLY) or
    re-derive)."""
    return toks.select("doc_id", F.size("toks").cast("long").alias("dl"))


def corpus_totals(dl: DataFrame) -> DataFrame:
    """One row ``(n_docs, sumdl)``: N and Σdl, the constants every
    length-normalized scorer divides by; it rides in on broadcasts."""
    return dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sumdl"),
    )


def query_tf(toks: DataFrame, terms: Iterable[str]) -> DataFrame:
    """``(doc_id, term, tf)`` for the query's terms only: the explode filters
    to the terms BEFORE the (doc, term) aggregate, so the shuffle carries
    only query-term hits, not the vocabulary (query-bounded at any corpus
    size)."""
    return (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def scored_hits(tf: DataFrame, dl: DataFrame, totals: DataFrame) -> DataFrame:
    """One row per query-term hit carrying tf, dl, n_docs and sumdl: the
    keyed tf ⨝ dl join with the one-row totals broadcast on."""
    return tf.join(dl, "doc_id").crossJoin(F.broadcast(totals))


def bm25_idf(tf: DataFrame, totals: DataFrame, *extra: Column) -> DataFrame:
    """``(term, idf, *extra)``: the BM25 idf ln((N − df + 0.5)/(df + 0.5) + 1)
    per query term, over the ≤|query| document frequencies. The one
    transcendental is snapped through decimal once per TERM, so both
    engines score from the same constant. ``extra`` are further per-term
    columns over ``df`` and the totals (rrf_fusion's smooth idf)."""
    return (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            snap_round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                ),
                6,
            ).alias("idf"),
            *extra,
        )
    )


def bm25_term() -> Column:
    """One hit's BM25 (k1=1.2, b=0.75) contribution over
    :func:`scored_hits` joined to :func:`bm25_idf`, as DECIMAL(18,6).

    Exactness across engines: the per-term score
    idf·tf(k1+1)/(tf + k1(1-b+b·dl/avgdl)) rescales (multiply num/denom by
    10·Σdl) to idf · 22·tf·Σdl / (10·tf·Σdl + 3·Σdl + 9·dl·N) — every
    factor an exact int64 at bench SFs (Σdl < 2^53/22; re-scale per-shard
    at 100 TB). Each per-term contribution is snapped to DECIMAL(18,6)
    BEFORE the per-doc sum, so the sums are partial-order independent and
    engine-exact."""
    return (
        snap_round(
            F.col("idf")
            * (22 * F.col("tf") * F.col("sumdl")).cast("double")
            / (
                10 * F.col("tf") * F.col("sumdl")
                + 3 * F.col("sumdl")
                + 9 * F.col("dl") * F.col("n_docs")
            ).cast("double"),
            6,
        )
        .cast("decimal(18,6)")
    )


def bm25_corpus_sql(terms: str) -> str:
    """The oracle's tokenize-once CTEs ``t``, ``dl``, ``totals`` and ``tf``
    (the SQL side of :func:`doc_lengths`, :func:`corpus_totals` and
    :func:`query_tf`); ``terms`` is the body of the tf ``IN (...)``."""
    return f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(dl) AS BIGINT) AS sumdl FROM dl),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM t)
    WHERE term IN ({terms})
    GROUP BY doc_id, term
)"""


#: The per-term snapped BM25 idf (:func:`bm25_idf`) over ``n_docs``/``df``.
_BM25_IDF_SQL = """CAST(ROUND(CAST(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                AS DECIMAL(28,8)), 6) AS DOUBLE)"""
_IDF_SQL = f"""idf AS (
    SELECT term, {_BM25_IDF_SQL} AS idf
    FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    CROSS JOIN totals
)"""
#: One hit's rescaled, snapped contribution (:func:`bm25_term`).
_BM25_TERM_SQL = """CAST(ROUND(CAST(
                idf * CAST(22 * tf * sumdl AS DOUBLE)
                    / CAST(10 * tf * sumdl + 3 * sumdl + 9 * dl * n_docs
                           AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DECIMAL(18,6))"""
#: The FROM clause of :func:`scored_hits`.
HITS_SQL = "tf JOIN dl USING (doc_id) CROSS JOIN totals"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75): score every document against a
    fixed 4-term query and return the top 20. The missing classic next to
    the TF-IDF rankers above; no reference counterpart (extension surface,
    SURVEY.md §2.13). Exactness: :func:`bm25_idf` and :func:`bm25_term`.

    Scale: the text is tokenized ONCE: the narrow (doc_id, dl) and
    (doc_id, term, tf) relations are materialized (localCheckpoint) for
    their two consumers each, so the corpus never rescans. N, Σdl and the
    ≤|query| idf rows ride in on broadcasts. Top-20 is a
    TakeOrderedAndProject, never a global sort.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks"))
    # tokenize once: dl feeds totals + contrib, tf feeds idf + contrib
    dl = doc_lengths(toks).localCheckpoint()
    totals = corpus_totals(dl)
    tf = query_tf(toks, QUERY_TERMS).localCheckpoint()
    contrib = (
        scored_hits(tf, dl, totals)
        .join(F.broadcast(bm25_idf(tf, totals)), "term")
        .select("doc_id", bm25_term().alias("c"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


BM25_TOPK_SQL = f"""
WITH {bm25_corpus_sql(QUERY_TERMS_SQL)},
{_IDF_SQL},
contrib AS (
    SELECT doc_id, {_BM25_TERM_SQL} AS c
    FROM {HITS_SQL} JOIN idf USING (term)
)
SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankers (BM25 and smooth
    TF-IDF) for the same 4-term query: rrf(d) = Σ_r 1/(60 + rank_r(d)) —
    the standard score-free way to merge heterogeneous rankers (lexical +
    embedding, or here two lexical scorers with different idf/length
    normalization) without calibrating their score scales. The hybrid-
    search primitive every RAG stack runs on top of bm25_topk +
    similarity_* — this query is the fusion stage itself.

    Tokenize-once: tf (filtered to the query's terms BEFORE the shuffle)
    and dl are materialized once and feed BOTH rankers. Each ranker's
    per-term contribution follows the engine's exactness discipline
    (bm25's integer rescaling / one snapped ln per term, decimal sums), so
    scores are engine-exact BEFORE ranking; each ranker keeps its top-50
    via TakeOrderedAndProject on the total order (score desc, doc_id) —
    never a global sort — and rank is a row_number over that 50-row
    relation. The fusion is a full outer join of two ≤50-row frames;
    1/(60+rank) terms are exact-double, summed with ONE association and
    snapped at 8 dp. At 100 TB the only corpus-sized work is the
    query-term tf shuffle both rankers already share.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks"))
    dl = doc_lengths(toks).localCheckpoint()
    totals = corpus_totals(dl)
    tf = query_tf(toks, QUERY_TERMS).localCheckpoint()
    idfs = bm25_idf(
        tf,
        totals,
        snap_round(
            F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0),
            6,
        ).alias("idf_smooth"),
    )
    contrib = (
        scored_hits(tf, dl, totals)
        .join(F.broadcast(idfs), "term")
        .select(
            "doc_id",
            bm25_term().alias("c_bm25"),
            snap_round(F.col("tf") * F.col("idf_smooth"), 6)
            .cast("decimal(18,6)")
            .alias("c_tfidf"),
        )
    )
    scores = contrib.groupBy("doc_id").agg(
        F.sum("c_bm25").cast("double").alias("bm25"),
        F.sum("c_tfidf").cast("double").alias("tfidf"),
    ).localCheckpoint()
    top_a = scores.orderBy(F.desc("bm25"), "doc_id").limit(50)
    top_b = scores.orderBy(F.desc("tfidf"), "doc_id").limit(50)
    ra = top_a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("rank_bm25"),
    )
    rb = top_b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("tfidf"), "doc_id"))
        .cast("long")
        .alias("rank_tfidf"),
    )
    rrf = (
        F.coalesce(1.0 / (60.0 + F.col("rank_bm25").cast("double")), F.lit(0.0))
        + F.coalesce(
            1.0 / (60.0 + F.col("rank_tfidf").cast("double")), F.lit(0.0)
        )
    )
    return (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_bm25",
            "rank_tfidf",
            F.round(rrf.cast("decimal(28,12)"), 8).cast("double").alias("rrf_score"),  # widened: snap_round(·,8) is zero-margin
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(20)
    )


RRF_FUSION_SQL = f"""
WITH {bm25_corpus_sql(QUERY_TERMS_SQL)},
idf AS (
    SELECT term,
           {_BM25_IDF_SQL} AS idf,
           CAST(ROUND(CAST(LN((n_docs + 1.0) / (df + 1.0)) + 1.0
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS idf_smooth
    FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    CROSS JOIN totals
),
contrib AS (
    SELECT doc_id,
           {_BM25_TERM_SQL} AS c_bm25,
           CAST(ROUND(CAST(tf * idf_smooth AS DECIMAL(28,8)), 6)
                AS DECIMAL(18,6)) AS c_tfidf
    FROM {HITS_SQL} JOIN idf USING (term)
),
scores AS (
    SELECT doc_id,
           CAST(SUM(c_bm25) AS DOUBLE) AS bm25,
           CAST(SUM(c_tfidf) AS DOUBLE) AS tfidf
    FROM contrib GROUP BY doc_id
),
ra AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank_bm25
    FROM scores ORDER BY bm25 DESC, doc_id LIMIT 50
),
rb AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY tfidf DESC, doc_id) AS BIGINT)
               AS rank_tfidf
    FROM scores ORDER BY tfidf DESC, doc_id LIMIT 50
)
SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
       rank_bm25, rank_tfidf,
       CAST(ROUND(CAST(
           COALESCE(1.0 / (60.0 + CAST(rank_bm25 AS DOUBLE)), 0.0)
           + COALESCE(1.0 / (60.0 + CAST(rank_tfidf AS DOUBLE)), 0.0)
           AS DECIMAL(28,12)), 8) AS DOUBLE) AS rrf_score
FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
ORDER BY rrf_score DESC, COALESCE(ra.doc_id, rb.doc_id)
LIMIT 20
"""


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 of the BM25 ranker against a graded relevance standard —
    the ranking-quality metric that completes the evaluation family (AUC
    for classification, calibration for probabilities, recall-vs-exact for
    ANN, NDCG for RANKINGS). Relevance grade = number of distinct query
    terms a document contains plus a total-frequency bonus (grades 0..6,
    exact integers from the same tf relation the ranker uses — graded
    finely enough that the ideal ordering actually distinguishes ranks),
    the standard graded-judgment stand-in when no human labels exist.

    DCG@20 = Σ rel_i/log2(i+1) over BM25's top-20; IDCG@20 is the same sum
    over the IDEAL ordering (top-20 grades corpus-wide, a TakeOrdered —
    never a global sort). Per-position gains snap to decimal (each is one
    ln-ratio on identical doubles), sums are exact, the final NDCG divides
    once and snaps. Tokenize-once: tf/dl materialize once and feed the
    scorer, the grader, and the ideal ordering.

    Scale: query-term-filtered tf is the only corpus-sized shuffle; both
    top-20s are TakeOrderedAndProject; everything after runs on ≤20-row
    frames.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks"))
    dl = doc_lengths(toks).localCheckpoint()
    totals = corpus_totals(dl)
    tf = query_tf(toks, QUERY_TERMS).localCheckpoint()
    rel = tf.groupBy("doc_id").agg(
        (
            F.countDistinct("term")
            + F.when(F.sum("tf") >= 8, 2).when(F.sum("tf") >= 4, 1).otherwise(0)
        )
        .cast("long")
        .alias("rel")
    ).localCheckpoint()
    scores = (
        scored_hits(tf, dl, totals)
        .join(F.broadcast(bm25_idf(tf, totals)), "term")
        .select("doc_id", bm25_term().alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("bm25"))
    )
    top = scores.orderBy(F.desc("bm25"), "doc_id").limit(20)
    gain = lambda relc, pos: F.round(  # noqa: E731
        (
            relc.cast("double")
            / (F.log(pos.cast("double") + 1.0) / F.log(F.lit(2.0)))
        ).cast("decimal(28,10)"),
        8,
    ).cast("decimal(20,8)")
    ranked = top.join(rel, "doc_id", "left").select(
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    dcg = ranked.agg(
        F.sum(gain(F.col("rel"), F.col("pos"))).alias("dcg"),
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
    )
    ideal = rel.orderBy(F.desc("rel"), "doc_id").limit(20)
    ideal_ranked = ideal.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("rel"), "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    idcg = ideal_ranked.agg(F.sum(gain(F.col("rel"), F.col("pos"))).alias("idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            "n_ranked",
            F.col("dcg").cast("double").alias("dcg_20"),
            F.col("idcg").cast("double").alias("idcg_20"),
            snap_round(
                F.col("dcg").cast("double") / F.col("idcg").cast("double"), 6
            ).alias("ndcg_20"),
        )
    )


NDCG_EVAL_SQL = f"""
WITH {bm25_corpus_sql(QUERY_TERMS_SQL)},
rel AS (SELECT doc_id,
               CAST(COUNT(DISTINCT term)
                    + CASE WHEN SUM(tf) >= 8 THEN 2
                           WHEN SUM(tf) >= 4 THEN 1 ELSE 0 END AS BIGINT) AS rel
        FROM tf GROUP BY doc_id),
{_IDF_SQL},
scores AS (
    SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS bm25
    FROM (
        SELECT doc_id, {_BM25_TERM_SQL} AS c
        FROM {HITS_SQL} JOIN idf USING (term)
    ) GROUP BY doc_id
),
top AS (SELECT doc_id, bm25 FROM scores ORDER BY bm25 DESC, doc_id LIMIT 20),
ranked AS (
    SELECT COALESCE(rel.rel, 0) AS rel,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, top.doc_id) AS BIGINT) AS pos
    FROM top LEFT JOIN rel ON top.doc_id = rel.doc_id
),
dcg AS (
    SELECT SUM(CAST(ROUND(CAST(
               CAST(rel AS DOUBLE) / (LN(CAST(pos AS DOUBLE) + 1.0) / LN(2.0))
               AS DECIMAL(28,10)), 8) AS DECIMAL(20,8))) AS dcg,
           CAST(COUNT(*) AS BIGINT) AS n_ranked
    FROM ranked
),
ideal AS (SELECT rel, doc_id FROM rel ORDER BY rel DESC, doc_id LIMIT 20),
ideal_ranked AS (
    SELECT rel,
           CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS pos
    FROM ideal
),
idcg AS (
    SELECT SUM(CAST(ROUND(CAST(
               CAST(rel AS DOUBLE) / (LN(CAST(pos AS DOUBLE) + 1.0) / LN(2.0))
               AS DECIMAL(28,10)), 8) AS DECIMAL(20,8))) AS idcg
    FROM ideal_ranked
)
SELECT n_ranked,
       CAST(dcg AS DOUBLE) AS dcg_20,
       CAST(idcg AS DOUBLE) AS idcg_20,
       CAST(ROUND(CAST(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS ndcg_20
FROM dcg CROSS JOIN idcg
"""


def q_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-accelerated substring search — the pg_trgm / code-search
    (trigram index) design as a checkable query: find every document
    containing the literal pattern 'stream join' by intersecting TRIGRAM
    postings, then verifying only the candidates. A full-scan
    contains() reads every byte of a 100 TB corpus per search; the
    trigram path reads the (tiny) pattern-trigram postings and verifies
    a candidate set bounded by the rarest trigram's document frequency —
    the reason every code-search engine (and Postgres LIKE acceleration)
    is built this way.

    Correctness is structural, not probabilistic: every substring's
    trigrams are all present in the containing text, so the
    all-pattern-trigrams candidate set is a SUPERSET of the matches and
    the verify step makes the result exactly equal to the full scan —
    which is precisely what the DuckDB oracle runs (WHERE contains),
    proving the index path semantically invisible, the skew_salted_join
    pattern applied to search.

    Scale note: the trigram explode here is the INDEX BUILD (one pass,
    ~n_chars rows per doc, filtered to the pattern's trigrams AT THE SCAN
    so almost nothing shuffles); a real deployment materializes the full
    posting list once and amortizes it over every search.
    """
    pattern = "stream join"
    tris = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    d = fan_out(load_table(spark, sf_dir, "documents"))
    doc_tris = (
        d.select(
            "doc_id",
            F.explode(
                F.expr("sequence(1, greatest(length(text) - 2, 0))")
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.substring("text", F.col("i"), 3).alias("tri"))
        .filter(F.col("tri").isin(*tris))
    )
    cand = (
        doc_tris.groupBy("doc_id")
        .agg(F.countDistinct("tri").alias("n_tri"))
        .filter(F.col("n_tri") == len(tris))
        .select("doc_id")
    )
    return (
        d.join(cand, "doc_id", "left_semi")
        .filter(F.instr("text", pattern) > 0)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


SUBSTRING_SEARCH_SQL = """
SELECT doc_id, source, n_chars
FROM documents
WHERE contains(text, 'stream join')
ORDER BY doc_id
"""


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source via log-odds with a Dirichlet prior
    (Monroe-Colaresi-Quinn "Fightin' Words") — WHAT a source talks about
    relative to the rest of the corpus, the per-source fingerprint that
    TF-IDF (document-grain) and JSD (distribution-grain) don't give:
    δ_w = ln[(y_w+α_w)/(n+α−y_w−α_w)] − ln[(y'_w+α_w)/(n'+α−y'_w−α_w)],
    z_w = δ_w/√(1/(y_w+α_w)+1/(y'_w+α_w)), with the corpus itself as the
    prior (α_w ∝ corpus counts, α=1000). Top-3 terms per source by z.

    Exactness: counts exact; α_w = 1000·c_w/N computed as ONE double
    ratio; the four ln's run on identical doubles with one association
    and z snaps at 6 dp BEFORE the per-source rank window (total tie
    order). Scale: one (source, term) aggregate (map-side combined),
    corpus marginals derive from it and broadcast back vocabulary-sized;
    rest-of-corpus counts are subtractions, never a second scan; ranking
    windows partition by source.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    st = (
        d.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint()
    )
    tot_term = st.groupBy("term").agg(F.sum("y").cast("long").alias("c_w"))
    tot_src = st.groupBy("source").agg(F.sum("y").cast("long").alias("n_s"))
    grand = tot_term.agg(
        F.sum("c_w").cast("long").alias("n_tot"),
    )
    j = (
        st.join(F.broadcast(tot_term), "term")
        .join(F.broadcast(tot_src), "source")
        .crossJoin(F.broadcast(grand))
    )
    a0 = F.lit(1000.0)
    aw = a0 * F.col("c_w").cast("double") / F.col("n_tot").cast("double")
    y1 = F.col("y").cast("double") + aw
    n1 = F.col("n_s").cast("double") + a0
    y2 = (F.col("c_w") - F.col("y")).cast("double") + aw
    n2 = (F.col("n_tot") - F.col("n_s")).cast("double") + a0
    delta = F.log(y1 / (n1 - y1)) - F.log(y2 / (n2 - y2))
    z = delta / F.sqrt(1.0 / y1 + 1.0 / y2)
    scored = j.select(
        "source",
        "term",
        "y",
        snap_round(z, 6).alias("z_logodds"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("z_logodds"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("source", "rank", "term", "y", "z_logodds")
        .orderBy("source", "rank")
    )


DISTINCTIVE_TERMS_SQL = f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
st AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS y
    FROM (SELECT source, unnest(toks) AS term FROM t)
    GROUP BY source, term
),
tot_term AS (SELECT term, CAST(SUM(y) AS BIGINT) AS c_w FROM st GROUP BY term),
tot_src AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n_s FROM st GROUP BY source),
grand AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tot FROM tot_term),
scored AS (
    SELECT source, term, y,
           CAST(ROUND(CAST(
               (LN((CAST(y AS DOUBLE) + 1000.0 * CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))
                   / ((CAST(n_s AS DOUBLE) + 1000.0)
                      - (CAST(y AS DOUBLE) + 1000.0 * CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))))
                - LN((CAST(c_w - y AS DOUBLE) + 1000.0 * CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))
                     / ((CAST(n_tot - n_s AS DOUBLE) + 1000.0)
                        - (CAST(c_w - y AS DOUBLE)
                           + 1000.0 * CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE)))))
               / SQRT(1.0 / (CAST(y AS DOUBLE)
                             + 1000.0 * CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      + 1.0 / (CAST(c_w - y AS DOUBLE)
                               + 1000.0 * CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE)))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS z_logodds
    FROM st
    JOIN tot_term USING (term)
    JOIN tot_src USING (source)
    CROSS JOIN grand
)
SELECT source, rank, term, y, z_logodds
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY z_logodds DESC, term) AS INT) AS rank
    FROM scored
)
WHERE rank <= 3
ORDER BY source, rank
"""


def q_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring per source — the large-scale
    sentiment-analysis-on-Spark pattern (cf. the EDBT'16 Twitter study in
    PAPERS.md) as a checkable query: count positive/negative lexicon hits
    per document (here the corpus's own performance vocabulary,
    fast/small vs slow/big — a deterministic stand-in the way the
    multimodal decoders stub theirs; a deployment swaps in
    VADER/AFINN-class lists, the plumbing is identical), polarity =
    (pos − neg)/(pos + neg) per scored document, then per-source means.

    Scale: token explode filtered TO THE LEXICON at the scan (the
    bm25/query-term discipline — the shuffle carries only lexicon hits);
    polarity snaps to decimal per doc so source means are order-free
    sums; unscored documents (no lexicon hits) are counted separately,
    never silently averaged as zero.
    """
    pos = ("fast", "small")
    neg = ("slow", "big")
    d = fan_out(load_table(spark, sf_dir, "documents"))
    hits = (
        d.select("doc_id", "source", F.explode(tokens("text")).alias("w"))
        .filter(F.col("w").isin(*(pos + neg)))
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.when(F.col("w").isin(*pos), 1).otherwise(0))
            .cast("long")
            .alias("np"),
            F.sum(F.when(F.col("w").isin(*neg), 1).otherwise(0))
            .cast("long")
            .alias("nn"),
        )
    )
    polarity = F.round(
        (
            (F.col("np") - F.col("nn")).cast("double")
            / (F.col("np") + F.col("nn")).cast("double")
        ).cast("decimal(28,8)"),
        6,
    ).cast("decimal(18,6)")
    scored = hits.select("source", polarity.alias("pol"))
    per_source = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("pol").alias("pol_sum"),
        F.sum(F.when(F.col("pol") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_positive"),
    )
    totals = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        totals.join(per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_scored"), F.lit(0)).cast("long").alias("n_scored"),
            snap_round(
                F.coalesce(
                    F.col("pol_sum").cast("double")
                    / F.col("n_scored").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("mean_polarity"),
            F.coalesce(F.col("n_positive"), F.lit(0))
            .cast("long")
            .alias("n_positive"),
        )
        .orderBy("source")
    )


SENTIMENT_LEXICON_SQL = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
hits AS (
    SELECT doc_id, source,
           CAST(SUM(CASE WHEN w IN ('fast', 'small') THEN 1 ELSE 0 END) AS BIGINT) AS np,
           CAST(SUM(CASE WHEN w IN ('slow', 'big') THEN 1 ELSE 0 END) AS BIGINT) AS nn
    FROM (SELECT doc_id, source, unnest(toks) AS w FROM t)
    WHERE w IN ('fast', 'small', 'slow', 'big')
    GROUP BY doc_id, source
),
scored AS (
    SELECT source,
           CAST(ROUND(CAST(CAST(np - nn AS DOUBLE) / CAST(np + nn AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS pol
    FROM hits
),
per_source AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_scored,
           SUM(pol) AS pol_sum,
           CAST(SUM(CASE WHEN pol > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
    FROM scored GROUP BY source
),
totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source)
SELECT source, n_docs,
       CAST(COALESCE(n_scored, 0) AS BIGINT) AS n_scored,
       CAST(ROUND(CAST(COALESCE(CAST(pol_sum AS DOUBLE) / CAST(n_scored AS DOUBLE),
            0.0) AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_polarity,
       CAST(COALESCE(n_positive, 0) AS BIGINT) AS n_positive
FROM totals LEFT JOIN per_source USING (source)
ORDER BY source
"""


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness — HOW a term distributes across documents, the
    corpus-linguistics complement to distinctive_terms' WHERE: for the
    top-20 corpus terms, the variance-to-mean ratio of per-document
    counts (VMR ≈ 1 for Poisson 'function words', ≫ 1 for bursty 'topic
    words' that pile into few documents). Burstiness is the signal behind
    idf-style weighting and stopword detection — a high-frequency LOW-VMR
    term is a stopword candidate even without a list.

    Per-(doc, term) counts aggregate once (the tf relation every text
    operator shares); zero-count documents enter the moments via the
    corpus doc count N — Σc and Σc² over NON-zero rows plus N give the
    full-population mean/variance exactly, no dense doc×term grid. Top-20
    terms by total count, total tie order; one snapped VMR each.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_term = tf.groupBy("term").agg(
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    top = (
        per_term.orderBy(F.desc("sc"), "term")
        .limit(20)
        .crossJoin(F.broadcast(n_docs))
    )
    nd = F.col("n_docs").cast("double")
    mean = F.col("sc").cast("double") / nd
    var = (F.col("scc").cast("double") - F.col("sc").cast("double") * mean) / nd
    return top.select(
        "term",
        F.col("sc").alias("total_count"),
        "df",
        snap_round(var / mean, 6).alias("vmr"),
    ).orderBy(F.desc("total_count"), "term")


TERM_BURSTINESS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tf AS (
    SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT doc_id, unnest(toks) AS term FROM t)
    GROUP BY term, doc_id
),
per_term AS (
    SELECT term,
           CAST(SUM(c) AS BIGINT) AS sc,
           CAST(SUM(c * c) AS BIGINT) AS scc,
           CAST(COUNT(*) AS BIGINT) AS df
    FROM tf GROUP BY term
),
top AS (
    SELECT * FROM per_term CROSS JOIN nd
    ORDER BY sc DESC, term LIMIT 20
)
SELECT term, sc AS total_count, df,
       CAST(ROUND(CAST(
           ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
             * (CAST(sc AS DOUBLE) / CAST(n_docs AS DOUBLE)))
            / CAST(n_docs AS DOUBLE))
           / (CAST(sc AS DOUBLE) / CAST(n_docs AS DOUBLE))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS vmr
FROM top
ORDER BY total_count DESC, term
"""


def q_batch_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH retrieval — many queries scored in ONE plan, the production
    form single-query bm25_topk only hints at: the query set is a
    RELATION (qid, term), so scoring joins queries to the shared tf index
    instead of baking terms into the plan as literals — 3 queries or
    30,000 cost the same plan, and the shuffle carries only (doc, query
    term) hits. Per-(query, doc) BM25 sums follow the engine's exactness
    discipline; top-5 per query via a qid-partitioned rank window (never
    a global sort).

    This is the retrieval family's scale statement: tokenize once, index
    once, score every query against it in one pass — the inverted-index
    batch join every search engine's offline evaluation harness runs.
    """
    query_rows = [
        (1, "hash"), (1, "join"),
        (2, "stream"), (2, "window"),
        (3, "spark"), (3, "query"), (3, "fast"),
    ]
    queries = spark.createDataFrame(query_rows, "qid int, term string")
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks"))
    dl = doc_lengths(toks).localCheckpoint()
    totals = corpus_totals(dl)
    all_terms = sorted({term for _, term in query_rows})
    tf = query_tf(toks, all_terms).localCheckpoint()
    contrib = (
        scored_hits(tf.join(F.broadcast(queries), "term"), dl, totals)
        .join(F.broadcast(bm25_idf(tf, totals)), "term")
        .select("qid", "doc_id", bm25_term().alias("c"))
    )
    scored = contrib.groupBy("qid", "doc_id").agg(
        F.sum("c").cast("double").alias("bm25")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("qid", "rank", "doc_id", "bm25")
        .orderBy("qid", "rank")
    )


BATCH_RETRIEVAL_SQL = f"""
WITH queries AS (
    SELECT * FROM (VALUES
        (1, 'hash'), (1, 'join'),
        (2, 'stream'), (2, 'window'),
        (3, 'spark'), (3, 'query'), (3, 'fast')
    ) AS q(qid, term)
),
{bm25_corpus_sql("SELECT DISTINCT term FROM queries")},
{_IDF_SQL},
scored AS (
    SELECT qid, doc_id, CAST(SUM(c) AS DOUBLE) AS bm25
    FROM (
        SELECT qid, doc_id, {_BM25_TERM_SQL} AS c
        FROM tf
        JOIN queries USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN totals
        JOIN idf USING (term)
    ) GROUP BY qid, doc_id
)
SELECT qid, rank, doc_id, bm25
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS INT) AS rank
    FROM scored
)
WHERE rank <= 5
ORDER BY qid, rank
"""


def q_query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM1-with-binary-weights
    shape): retrieve a feedback set for the fixed 4-term query (top-10
    docs by total query-term occurrences — exact integer ranking), then
    propose the 5 expansion terms most over-represented in that set
    relative to the corpus: lift = (df_fb/|fb|) / (df_corpus/N). The
    retrieval-quality member the bm25/rrf rankers feed — expansion is how
    a production retrieval stack lifts recall without touching the index.

    Determinism: feedback membership, df counts, and the expansion
    ranking are ALL exact-integer decisions ((df_fb DESC, df_corpus ASC,
    term) — never a float-ordered rank); lift is one snapped division
    reported alongside.

    Scale: tokenize once; the query-term filter collapses the explode
    before its aggregate (the bm25 posture); the feedback set is ≤10 doc
    ids broadcast back against the (doc, term) relation; corpus df is one
    map-side-combined aggregate.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint()
    doc_terms = toks.select("doc_id", F.explode("toks").alias("term")).distinct()
    qtf = (
        toks.select(
            "doc_id",
            F.size(F.filter(F.col("toks"), lambda t: t.isin(*QUERY_TERMS))).alias(
                "qtf"
            ),
        )
        .filter(F.col("qtf") > 0)
        .orderBy(F.desc("qtf"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id")
    )
    n_docs = toks.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    fb = (
        doc_terms.join(F.broadcast(qtf), "doc_id")
        .filter(~F.col("term").isin(*QUERY_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df_fb"))
    )
    corpus_df = doc_terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_corpus")
    )
    w = Window.orderBy(F.desc("df_fb"), F.asc("df_corpus"), F.asc("term"))
    return (
        fb.join(corpus_df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "rank",
            "term",
            "df_fb",
            "df_corpus",
            snap_round(
                (F.col("df_fb").cast("double") / F.lit(10.0))
                / (F.col("df_corpus").cast("double") / F.col("n_docs").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy("rank")
    )


QUERY_EXPANSION_PRF_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
doc_terms AS (
    SELECT DISTINCT doc_id, unnest(toks) AS term FROM t
),
qtf AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               len(list_filter(toks, x -> x IN ('hash', 'join', 'stream', 'spark')))
                   AS qtf
        FROM t
    ) WHERE qtf > 0
    ORDER BY qtf DESC, doc_id ASC
    LIMIT 10
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t),
fb AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df_fb
    FROM doc_terms JOIN qtf USING (doc_id)
    WHERE term NOT IN ('hash', 'join', 'stream', 'spark')
    GROUP BY term
),
corpus_df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df_corpus
    FROM doc_terms GROUP BY term
)
SELECT rank, term, df_fb, df_corpus,
       CAST(ROUND(CAST((CAST(df_fb AS DOUBLE) / 10.0)
                       / (CAST(df_corpus AS DOUBLE) / CAST(n_docs AS DOUBLE))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS lift
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY df_fb DESC, df_corpus ASC, term ASC) AS INT) AS rank
    FROM fb JOIN corpus_df USING (term) CROSS JOIN n
) WHERE rank <= 5
ORDER BY rank
"""


def q_qld_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ = 300,
    Zhai & Lafferty 2001) — the language-modeling ranker beside BM25's
    tf-idf one; the two disagree exactly where smoothing matters (short
    docs, rare terms), which is why evaluation stacks run both. Scores
    EVERY document (a no-hit doc still earns the smoothed background
    mass — restricting to postings would let short no-hit docs be
    mis-dropped): score(d) = C − |Q|·ln(dl+μ) + Σ_hits ln(1 + tf/(μ·p_q)),
    C = Σ_q ln(μ·p_q) a query constant.

    Exactness: p_q ratios and every ln run on identical doubles; hit
    bonuses snap at 9 dp into an exact decimal sum, C assembles from
    per-term 9-dp snaps, the total snaps at 6. Scale: tokenize ONCE
    (the bm25 contract — dl and query-term tf materialize via
    localCheckpoint), the shuffle carries query-term hits only, top-10
    is TakeOrdered."""
    mu = 300.0
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint()
    dl = doc_lengths(toks)
    tf = query_tf(toks, QUERY_TERMS)
    cf = (
        tf.groupBy("term")
        .agg(F.sum("tf").cast("long").alias("cf"))
        .crossJoin(F.broadcast(corpus_totals(dl)))
        .select(
            "term",
            (F.col("cf").cast("double") / F.col("sumdl").cast("double")).alias("pq"),
        )
    )
    c_const = cf.select(
        snap_round(F.log(F.lit(mu) * F.col("pq")), 9).cast("decimal(18,9)").alias("t")
    ).agg(F.sum("t").cast("double").alias("c"))
    bonus = (
        tf.join(F.broadcast(cf), "term")
        .select(
            "doc_id",
            snap_round(
                F.log(F.lit(1.0) + F.col("tf").cast("double") / (F.lit(mu) * F.col("pq"))),
                9,
            ).cast("decimal(18,9)").alias("b"),
        )
        .groupBy("doc_id")
        .agg(F.sum("b").alias("bonus"))
    )
    scored = (
        dl.join(bonus, "doc_id", "left")
        .crossJoin(F.broadcast(c_const))
        .select(
            "doc_id",
            "dl",
            snap_round(
                F.col("c")
                + F.coalesce(F.col("bonus").cast("double"), F.lit(0.0))
                - 4.0 * F.log(F.col("dl").cast("double") + mu),
                6,
            ).alias("ql_score"),
        )
    )
    return scored.orderBy(F.desc("ql_score"), "doc_id").limit(10)


QLD_RETRIEVAL_SQL = f"""
WITH {bm25_corpus_sql(QUERY_TERMS_SQL)},
cf AS (
    SELECT term, CAST(SUM(tf) AS DOUBLE) / CAST(totals.sumdl AS DOUBLE) AS pq
    FROM tf CROSS JOIN totals GROUP BY term, totals.sumdl
),
c_const AS (
    SELECT CAST(SUM(CAST(ROUND(CAST(LN(300.0 * pq) AS DECIMAL(28,8)), 9)
                         AS DECIMAL(18,9))) AS DOUBLE) AS c
    FROM cf
),
bonus AS (
    SELECT tf.doc_id,
           SUM(CAST(ROUND(CAST(LN(1.0 + CAST(tf.tf AS DOUBLE) / (300.0 * cf.pq))
                               AS DECIMAL(28,8)), 9) AS DECIMAL(18,9))) AS bonus
    FROM tf JOIN cf USING (term)
    GROUP BY tf.doc_id
)
SELECT dl.doc_id, dl.dl,
       CAST(ROUND(CAST(
           c_const.c + COALESCE(CAST(bonus.bonus AS DOUBLE), 0.0)
           - 4.0 * LN(CAST(dl.dl AS DOUBLE) + 300.0)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS ql_score
FROM dl LEFT JOIN bonus ON dl.doc_id = bonus.doc_id
CROSS JOIN c_const
ORDER BY ql_score DESC, dl.doc_id
LIMIT 10
"""
