"""Training-corpus preparation plans (LLM-data-pipeline extension surface).

The ops a 100-TB text-corpus pipeline runs between raw crawl and training
shards, absent from the reference (whose only text handling is schema-level —
SURVEY.md §2.10 "no string manipulation"):

- ``chunk_documents`` — token-window chunking with overlap (the UDTF shape:
  one row in, N chunk rows out). Expressed JVM-side as
  ``split → sequence → explode → slice → array_join`` — no Python UDTF
  needed, so it rides whole-stage codegen and scales linearly.
- ``pii_scrub`` — regex redaction (emails, phone numbers) with per-doc
  redaction counts. The synthetic corpus has no PII, so the plan injects a
  deterministic fake email/phone per document first — the operator under
  test is the scrubber, and the oracle proves byte-identical redaction.
- ``sample_stratified`` — per-language deterministic sampling at different
  rates (the corpus-mixture knob). Hash-mod sampling, not ``rand()``:
  reproducible across runs/engines/partitionings, and a pure scan-stage
  predicate — no shuffle, no sort, prunes before any downstream cost.
- ``pack_sequences`` — assign documents to fixed-capacity training bins
  (context windows) by running token offset: bin = floor(start_offset /
  capacity) over a per-language cumulative sum in doc_id order. This is the
  offset-packing spec (documents may straddle a boundary and belong to the
  bin where they start) — deterministic and windowed-SQL-expressible, unlike
  greedy first-fit, which is inherently sequential; the allocator kernel
  (operators/allocation.py) is the template if exact first-fit is ever
  needed.

All three stay fully SQL-expressible for the DuckDB oracle. Regexes are kept
to the syntax subset Java regex and RE2 share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.operators.text import char_hash32
from candyspark.plans.candy import line_fit, line_fit_sql, line_sums, line_sums_sql
from candyspark.sources.readers import load_table

# --- chunking ----------------------------------------------------------------

_WIN = 100  # tokens per chunk
_STRIDE = 80  # tokens between chunk starts (20-token overlap)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document.

    Chunk i covers tokens [i*stride, i*stride + window); the last chunk
    starts at the final stride boundary that still adds new tokens, so every
    token lands in ≥1 chunk and short docs yield exactly one chunk.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    last = F.greatest(
        F.lit(0),
        F.ceil((F.size(toks) - F.lit(_WIN)) / F.lit(float(_STRIDE))).cast("int"),
    )
    return (
        d.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), last)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("toks"), F.col("chunk_id") * _STRIDE + 1, _WIN), " "
            ).alias("chunk"),
        )
    )


CHUNK_DOCUMENTS_SQL = f"""
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       array_to_string(
           list_slice(string_split_regex(text, '\\s+'), i*{_STRIDE}+1, i*{_STRIDE}+{_WIN}),
           ' ') AS chunk
FROM documents,
     UNNEST(generate_series(0,
         GREATEST(0, CAST(CEIL((len(string_split_regex(text, '\\s+')) - {_WIN})
                               / {_STRIDE}.0) AS BIGINT)))) AS t(i)
"""


# --- PII scrubbing -----------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails and phone numbers, reporting per-doc redaction counts.

    Counts are computed as length deltas of targeted removals (regexp_count
    differs across engines' dialects; length arithmetic does not). Both
    regexes use the Java∩RE2 syntax subset so Spark and the oracle redact
    identically.
    """
    d = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199."),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(with_pii, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        (
            F.length(with_pii)
            - F.length(F.regexp_replace(with_pii, _EMAIL_RE, ""))
        ).cast("int").alias("email_chars_redacted"),
        (
            F.length(with_pii)
            - F.length(F.regexp_replace(with_pii, _PHONE_RE, ""))
        ).cast("int").alias("phone_chars_redacted"),
    )


PII_SCRUB_SQL = f"""
WITH w AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-'
                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                || '-0199.' AS with_pii
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(with_pii, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
       CAST(len(with_pii) - len(regexp_replace(with_pii, '{_EMAIL_RE}', '', 'g'))
            AS INT) AS email_chars_redacted,
       CAST(len(with_pii) - len(regexp_replace(with_pii, '{_PHONE_RE}', '', 'g'))
            AS INT) AS phone_chars_redacted
FROM w
"""


# --- stratified sampling -----------------------------------------------------

_RATES = {"en": 10, "de": 30, "fr": 50, "es": 70}  # percent kept per lang


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling at mixture-specific rates.

    hash(doc_id) mod 100 < rate(lang): every engine, run, and partitioning
    keeps the same documents (rand()-based sampleBy cannot be oracle-checked
    and is not reproducible under retries/speculative execution at scale).
    """
    d = load_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _RATES.items()],
        F.lit(0),
    )
    bucket = F.pmod(char_hash32(F.col("doc_id").cast("string")), F.lit(100))
    return (
        d.filter(bucket < rate)
        .select("doc_id", "lang", "source")
    )


_HASH_SQL = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in _RATES.items()
) + " ELSE 0 END"

SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_HASH_SQL} % 100 < {_RATE_SQL}
"""


_CAPACITY = 2048  # tokens per training bin


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → fixed-capacity training bins per language (offset
    packing, see module docstring). Output is per-bin: how many documents
    start in it, their token total, and the id span — the shard manifest a
    training loader consumes.

    Scale: one window shuffle on lang (the mixture dimension caps
    parallelism here; at 100 TB partition the cumsum by (lang, day) and
    offset bins per partition — same spec, restored parallelism), then a
    hash aggregate on the derived bin key."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")).cast(
        "bigint"
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    sized = d.select("doc_id", "lang", toks.alias("n_tokens"))
    offs = sized.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        offs.withColumn("bin_id", F.floor(F.col("start_off") / _CAPACITY).cast("int"))
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("num_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "bin_id")
    )


PACK_SEQUENCES_SQL = rf"""
WITH sized AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT)
               AS n_tokens
    FROM documents
),
offs AS (
    SELECT doc_id, lang, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
    FROM sized
)
SELECT lang,
       CAST(FLOOR(start_off / {_CAPACITY}) AS INT) AS bin_id,
       COUNT(*) AS num_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM offs
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


# --- repetition / entropy quality signals ------------------------------------


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition and diversity signals:
    word count, distinct-word ratio, top-word fraction, and word-unigram
    Shannon entropy (bits). Heavily repetitive documents (low entropy, high
    top-word fraction) are the classic filter targets in training-corpus
    curation.

    Shape: explode → count per (doc_id, word) → roll up per doc_id. Both
    shuffles key on the document (or finer), so the plan is embarrassingly
    parallel at any corpus size; the per-doc window in the entropy step
    spans one document's distinct words only. Entropy terms are snapped to
    6 dp and summed as exact decimals — floating-point sums are
    order-dependent, and partial aggregation means Spark's summation order
    is nondeterministic, so a raw double sum would not be oracle-hashable."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n"))
    per_doc = Window.partitionBy("doc_id")
    p = F.col("n").cast("double") / F.col("total").cast("double")
    term = snap_round(-p * F.log(p), 6).cast("decimal(18,6)")
    ent = (
        wc.withColumn("total", F.sum("n").over(per_doc))
        .select("doc_id", "n", "total", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.max("total").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("top_n"),
            F.sum("term").alias("ent_nats"),
        )
    )
    ln2 = F.lit(0.6931471805599453)
    return ent.select(
        "doc_id",
        "n_words",
        "n_distinct",
        snap_round(F.col("n_distinct") / F.col("n_words"), 4).alias("distinct_ratio"),
        snap_round(F.col("top_n") / F.col("n_words"), 4).alias("top_word_frac"),
        snap_round(F.col("ent_nats").cast("double") / ln2, 4).alias("entropy_bits"),
    ).orderBy("doc_id")


REPETITION_SIGNALS_SQL = """
WITH words AS (
    SELECT doc_id, w AS word
    FROM documents, UNNEST(regexp_split_to_array(text, '\\s+')) AS t(w)
    WHERE w <> ''
),
wc AS (
    SELECT doc_id, word, COUNT(*) AS n FROM words GROUP BY 1, 2
),
with_tot AS (
    SELECT doc_id, n,
           SUM(n) OVER (PARTITION BY doc_id) AS total
    FROM wc
),
ent AS (
    SELECT doc_id,
           MAX(total) AS n_words,
           COUNT(*) AS n_distinct,
           MAX(n) AS top_n,
           SUM(CAST(ROUND(CAST(-(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                    * LN(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                AS DECIMAL(28,8)), 6) AS DECIMAL(18,6))) AS ent_nats
    FROM with_tot
    GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       n_distinct,
       CAST(ROUND(CAST(CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS distinct_ratio,
       CAST(ROUND(CAST(CAST(top_n AS DOUBLE) / CAST(n_words AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS top_word_frac,
       CAST(ROUND(CAST(CAST(ent_nats AS DOUBLE) / 0.6931471805599453
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS entropy_bits
FROM ent
ORDER BY doc_id
"""


from candyspark.plans.analytics import _QUALITY as _AN_QUALITY  # noqa: E402
from candyspark.plans.analytics import _TOKS as _AN_TOKS  # noqa: E402

def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment — split = pure
    function of CONTENT (md5-derived bucket 0..99), never of rand() or row
    position, so (a) the same document always lands in the same split
    across runs, engines, partitionings, and corpus versions — the property
    that prevents silent train/test leakage when the corpus is re-sharded
    at 100 TB — and (b) the holdout is re-derivable from the formula alone,
    no assignment table to store or ship. Output is the per-(split, lang)
    audit summary (counts + char mass) a pipeline logs before training;
    the row-level assignment is the same expression without the rollup.
    One scan, one partial-agg'd shuffle of ≤|splits|·|langs| rows."""
    from candyspark.operators.text import char_hash32

    d = load_table(spark, sf_dir, "documents")
    bucket = char_hash32(F.col("text")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


DATASET_SPLIT_SQL = """
WITH b AS (
    SELECT lang, n_chars,
           CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b
GROUP BY 1, 2
ORDER BY split, lang
"""


# the engine's one tokenizer, DuckDB form (mirror of operators/text.tokens)
_TOKS_FRAGMENT = r"list_filter(string_split_regex(lower(text), '\W+'), x -> x != '')"


def q_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics (top-50 by occurrence): the n-gram counting
    pass under language-model evaluation, contamination checks, and
    collocation mining. Bigram construction is a JVM-side zip of the token
    array against its own 1-shift (slice + zip_with — no UDF, no extra
    scan); the explode inflates ~|tokens|× but partial aggregation
    collapses to one row per (task, bigram) before the single shuffle, and
    the Zipfian head ('of the', …) is exactly what map-side combine
    absorbs. Top-50 is TakeOrdered (no global sort). Same tokenizer as
    every other text operator (operators/text.tokens)."""
    from candyspark.operators import text as X
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = X.tokens("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(50)
    )


WORD_BIGRAMS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
b AS (
    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t
)
SELECT bigram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM b
GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 50
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent word pairs by pointwise mutual
    information — the statistical layer over word_bigrams' raw counts
    (raw frequency surfaces 'of the'; PMI surfaces genuinely associated
    pairs). The multi-word-expression detector of a tokenizer-training /
    phrase-vocabulary pipeline.

    Every probability is a ratio of exact long counts (pair count, both
    unigram counts, corpus totals derived once from the SAME token
    relation); the single ln per surviving pair is snapped at 6 dp. Pairs
    seen < 5 times are dropped BEFORE the join (PMI of rare pairs is
    noise, and the filter bounds the join input). Scale: the token
    relation is materialized once (doc-count rows of token arrays) and
    feeds bigram counts, unigram counts, and the 1-row totals; unigram
    counts are a vocabulary-sized dim broadcast onto the filtered pairs.
    """
    from candyspark.operators import text as X
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks_rel = d.select(
        "doc_id", X.tokens("text").alias("toks")
    ).localCheckpoint()
    toks = F.col("toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bigram_cnt = (
        toks_rel.select(F.explode(pairs).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    unigram_cnt = (
        toks_rel.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    totals = toks_rel.agg(
        F.sum(F.size(toks)).cast("double").alias("n_uni"),
        F.sum(F.greatest(F.size(toks) - 1, F.lit(0))).cast("double").alias("n_bi"),
    )
    pmi = F.log(
        (F.col("n_ab") / F.col("n_bi"))
        / ((F.col("n_a") / F.col("n_uni")) * (F.col("n_b") / F.col("n_uni")))
    )
    return (
        bigram_cnt.join(
            F.broadcast(unigram_cnt.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))),
            "w1",
        )
        .join(
            F.broadcast(unigram_cnt.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            snap_round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


PMI_COLLOCATIONS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
bg AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                                 i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS p
    FROM t
),
bigram_cnt AS (
    SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_ab
    FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
unigram_cnt AS (
    SELECT w, COUNT(*) AS n_w
    FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
totals AS (
    SELECT CAST(SUM(len(toks)) AS DOUBLE) AS n_uni,
           CAST(SUM(GREATEST(len(toks) - 1, 0)) AS DOUBLE) AS n_bi
    FROM t
)
SELECT w1, w2, n_ab,
       CAST(ROUND(CAST(
         LN((n_ab / n_bi) / ((ua.n_w / n_uni) * (ub.n_w / n_uni)))
         AS DECIMAL(28,8)), 6) AS DOUBLE) AS pmi
FROM bigram_cnt
JOIN unigram_cnt ua ON w1 = ua.w
JOIN unigram_cnt ub ON w2 = ub.w
CROSS JOIN totals
ORDER BY pmi DESC, w1, w2
LIMIT 50
"""


# --- end-to-end corpus pipeline (clean -> dedup -> pack) ---------------------


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in ONE plan: quality gate →
    length gate → exact dedup on normalized text (keep lowest doc_id) →
    per-language offset packing of the survivors → bin manifest. Each
    stage is an already-oracle-checked operator (corpus_clean,
    pack_sequences); composing them proves the stages CHAIN — the
    intermediate schemas line up and the whole thing stays one Catalyst
    plan (gates before the dedup exchange, dedup before the packing
    window, no materialization between stages).

    Scale: cheap scan-stage gates first, one exchange on the dedup key,
    one window on (lang) — the same two-shuffle shape as the pieces; at
    100 TB the packing cumsum shards by (lang, day) as documented in
    pack_sequences."""
    from candyspark.operators import text as X
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        X.quality_score("text").alias("quality_score"),
        X.token_count("text").cast("bigint").alias("n_tokens"),
        X.normalized_text("text").alias("norm"),
    ).filter((F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 10))
    dedup_w = Window.partitionBy("norm").orderBy("doc_id")
    survivors = (
        scored.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    pack_w = Window.partitionBy("lang").orderBy("doc_id")
    offs = survivors.withColumn(
        "start_off", F.sum("n_tokens").over(pack_w) - F.col("n_tokens")
    )
    return (
        offs.withColumn("bin_id", F.floor(F.col("start_off") / _CAPACITY).cast("int"))
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("num_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "bin_id")
    )


CORPUS_PIPELINE_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_AN_TOKS} AS toks FROM documents),
scored AS (
    SELECT doc_id, lang,
           {_AN_QUALITY} AS quality_score,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           array_to_string(toks, ' ') AS norm
    FROM t
),
gated AS (SELECT * FROM scored WHERE quality_score >= 0.5 AND n_tokens >= 10),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM gated
),
survivors AS (SELECT doc_id, lang, n_tokens FROM ranked WHERE rn = 1),
offs AS (
    SELECT doc_id, lang, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
    FROM survivors
)
SELECT lang,
       CAST(FLOOR(start_off / {_CAPACITY}) AS INT) AS bin_id,
       COUNT(*) AS num_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM offs
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


# --- 10-word segments --------------------------------------------------------


def join_in_order(key: str, text: str) -> Column:
    """Aggregate: the group's ``text`` values joined by spaces in ``key``
    order."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key, text))), lambda x: x[text]
        ),
        " ",
    )


def word_segments(docs: DataFrame, *keys: str) -> DataFrame:
    """``(doc_id, *keys, seg_idx, seg)``: each document's words regrouped
    into deterministic 10-word segments (segment id = pos / 10), each
    rebuilt in word order — the sub-document unit of the segment-level
    operators, so they all agree. The corpus is a flat word stream (no
    newline paragraph marks); on real data the segmentation expression is
    the only line that changes. One keyed exchange on (doc, segment),
    carrying rows bounded by words/10. A dedup or df key over ``seg`` at
    100 TB should be xxhash64 of the segment (8 bytes shuffled, not the
    text); it is kept as text here so the oracle states the identical
    computation."""
    words = docs.select(
        "doc_id", *keys, F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    return (
        words.withColumn("seg_idx", (F.col("pos") / 10).cast("long"))
        .groupBy("doc_id", *keys, "seg_idx")
        .agg(join_in_order("pos", "word").alias("seg"))
    )


def segments_sql(*keys: str) -> str:
    """The oracle's ``split``, ``words`` and ``seg_rows`` CTEs
    (:func:`word_segments`)."""
    cols = "".join(f", {k}" for k in keys)
    return f"""split AS (SELECT doc_id{cols}, string_split(text, ' ') AS l FROM documents),
words AS (
    -- parallel unnest zips element with its index (DuckDB semantics)
    SELECT doc_id{cols}, unnest(l) AS word, unnest(range(len(l))) AS pos
    FROM split
),
seg_rows AS (
    SELECT doc_id{cols}, CAST(pos // 10 AS BIGINT) AS seg_idx,
           string_agg(word, ' ' ORDER BY pos) AS seg
    FROM words GROUP BY doc_id{cols}, pos // 10
)"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (segment-level) dedup — the C4/RefinedWeb step that
    removes boilerplate REPEATED ACROSS documents while keeping each
    document's unique content, at sub-document granularity.

    The "paragraph" unit is the deterministic 10-word segment
    (:func:`word_segments`). Flow: segments → global first-occurrence
    window over the segment TEXT (keeper = lowest (doc_id, seg_idx), the
    same pinned total order as the allocator) → reassemble surviving
    segments per document in segment order.

    Scale: three keyed exchanges — (doc) for segment rebuild, (segment
    text) for the dedup window, (doc) for reassembly; each carries rows
    bounded by words/10.
    """
    segs = word_segments(load_table(spark, sf_dir, "documents"))
    first = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    kept = segs.withColumn("rn", F.row_number().over(first)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept_segs"),
            join_in_order("seg_idx", "seg").alias("deduped_text"),
        )
        .orderBy("doc_id")
    )


DEDUP_PARAGRAPHS_SQL = f"""
WITH {segments_sql()},
kept AS (
    SELECT doc_id, seg_idx, seg,
           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
    FROM seg_rows
)
SELECT doc_id, COUNT(*) AS n_kept_segs,
       string_agg(seg, ' ' ORDER BY seg_idx) AS deduped_text
FROM kept WHERE rn = 1
GROUP BY doc_id
ORDER BY doc_id
"""


def gopher_signal_exprs():
    """The Gopher rule signals as reusable Column expressions over a `text`
    column: (n_words, mean_word_len, frac_alpha, stop_hits) — shared by the
    registry query and the corpus CLI's --gopher-rules gate."""
    from candyspark.operators.text import tokens

    toks = tokens("text")
    n = F.size(toks)
    char_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    alpha_cnt = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "in", "a", "is")]),
        )
    )
    mean_len = F.when(n > 0, char_sum.cast("double") / n).otherwise(F.lit(0.0))
    frac_alpha = F.when(n > 0, alpha_cnt.cast("double") / n).otherwise(F.lit(0.0))
    return n, mean_len, frac_alpha, stop_hits


def gopher_passes_expr(n_words, mean_word_len, frac_alpha, stop_hits):
    """The combined Gopher verdict over (already-materialized) signal
    columns — rule constants in ONE place."""
    return (
        (n_words >= 10)
        & (n_words <= 100000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (frac_alpha >= 0.8)
        & (stop_hits >= 2)
    )


def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality filtering — the Gopher/C4-style scrub
    stage every LLM pretraining pipeline runs before dedup (word-count
    bounds, mean-word-length band, alphabetic-word fraction, stop-word
    presence; Rae et al. 2021 §A1.1, public recipe). No reference analogue
    (extension operator, SURVEY.md §2.13).

    Per doc: n_words, mean word length, fraction of tokens containing an
    alphabetic char, distinct-stop-word hits, and the combined ``passes``
    verdict. Every signal is a JVM-side expression over ONE tokenize (the
    engine's single tokenizer, operators/text.tokens) — integer sums and
    counts stay exact, the two ratios snap through decimal. One scan, one
    narrow projection, no shuffle at all (verdicts are per-row); at 100 TB
    this runs at scan speed and the filter predicate pushes into the next
    stage's scan when materialized partitioned."""
    d = load_table(spark, sf_dir, "documents")
    n, mean_len, frac_alpha, stop_hits = gopher_signal_exprs()
    out = d.select(
        "doc_id",
        n.cast("int").alias("n_words"),
        snap_round(mean_len, 4).alias("mean_word_len"),
        snap_round(frac_alpha, 6).alias("frac_alpha"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    passes = gopher_passes_expr(
        F.col("n_words"),
        F.col("mean_word_len"),
        F.col("frac_alpha"),
        F.col("stop_hits"),
    )
    return out.withColumn("passes", passes).orderBy("doc_id")


GOPHER_QUALITY_FILTER_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
sig AS (
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_words,
           CAST(ROUND(CAST(CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                     / len(toks) ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE)
             AS mean_word_len,
           CAST(ROUND(CAST(CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                          AS DOUBLE) / len(toks) ELSE 0.0 END
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS frac_alpha,
           CAST(len(list_intersect(list_distinct(toks),
                ['the', 'and', 'of', 'to', 'in', 'a', 'is'])) AS INTEGER)
             AS stop_hits
    FROM t
)
SELECT doc_id, n_words, mean_word_len, frac_alpha, stop_hits,
       (n_words >= 10 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND frac_alpha >= 0.8 AND stop_hits >= 2) AS passes
FROM sig
ORDER BY doc_id
"""


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training iteration: corpus-weighted adjacent
    symbol-pair counts — argmax(pair) is the next merge rule (Sennrich et
    al. 2016, the public BPE recipe). Top-50 pairs by total weight.

    Shape for scale: token frequencies first (the Zipfian collapse —
    map-side combine shrinks the corpus to its vocabulary before anything
    per-character happens), then pairs explode only over DISTINCT words
    (vocab-bounded, not corpus-bounded) weighted by frequency. The real
    iterated trainer would loop this plan with a merge table broadcast
    back; one iteration is the representative (and oracle-checkable)
    unit. Top-50 is TakeOrdered, no global sort."""
    from candyspark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.filter(F.length("word") >= 2).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").cast("long").alias("weight"))
    w = Window.orderBy(F.desc("weight"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 50)
        .select("pair", "weight", "rank")
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH t AS (SELECT {_TOKS_FRAGMENT} AS toks FROM documents),
words AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT unnest(toks) AS word FROM t)
    GROUP BY word
),
pairs AS (
    SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, freq
    FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
          FROM words WHERE length(word) >= 2)
),
agg AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS weight FROM pairs GROUP BY pair)
SELECT pair, weight, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, pair) AS INTEGER) AS rank
    FROM agg
) WHERE rank <= 50
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate detection: fixed-width character shingles
    (32 chars, stride 16) that appear in MORE THAN ONE document — the
    RefinedWeb/CCNet-style duplicated-span pass that document-level dedup
    misses (shared boilerplate, quoted paragraphs, licence blocks inside
    otherwise-distinct pages). Top-100 spans by spread.

    Stride-16 with width-32 guarantees any duplicated run ≥ 47 chars
    contains at least one aligned shingle on both sides, at 2 shingles per
    32 chars of corpus — the standard overlap/stride trade. Scale: the
    explode is linear in corpus bytes, partial aggregation collapses
    per-task repeats before the single shuffle on the span key, and
    countDistinct(doc) per span is exact at top-k grain. The remove step
    (splice matched spans out) is a join back on doc_id — detection is the
    oracle-checkable unit here."""
    d = load_table(spark, sf_dir, "documents")
    width, stride = 32, 16
    spans = d.filter(F.length("text") >= width).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.length("text") - width) / stride).cast("int")
                ),
                lambda i: F.col("text").substr(i * stride + 1, F.lit(width)),
            )
        ).alias("span"),
    )
    agg = spans.groupBy("span").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    w = Window.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span"))
    return (
        agg.filter(F.col("n_docs") >= 2)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 100)
        .select("span", "n_docs", "n_occurrences", "rank")
    )


DUPLICATE_SPANS_SQL = """
WITH spans AS (
    SELECT doc_id, substr(text, CAST(i * 16 + 1 AS INTEGER), 32) AS span
    FROM (SELECT doc_id, text,
                 unnest(range(0, CAST(FLOOR((length(text) - 32) / 16.0) AS BIGINT) + 1)) AS i
          FROM documents WHERE length(text) >= 32)
),
agg AS (
    SELECT span,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM spans GROUP BY span
)
SELECT span, n_docs, n_occurrences, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY n_docs DESC, n_occurrences DESC, span) AS INTEGER) AS rank
    FROM agg WHERE n_docs >= 2
) WHERE rank <= 100
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) for the top-1000 terms — the standard
    one-number corpus health check (natural text ≈ −1; synthetic or
    template-heavy corpora flatten; a pipeline bug that drops the Zipfian
    head shows up immediately).

    Cross-engine determinism: each ln() is snapped to DECIMAL(28,9) before
    the EXACT decimal sufficient-statistic sums (natural-log libm results
    can differ in the last ulp between engines; 9 dp absorbs that while
    keeping 9 significant digits of the fit), and only the closed-form
    slope/intercept arithmetic runs in doubles, identical textually in
    both engines. Scale: term frequencies are one map-side-combined
    aggregate; the top-1000 cut is TakeOrdered; the fit is a 1000-row
    aggregate."""
    from candyspark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    top = tf.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 1000)
    lx = F.round(F.log(F.col("rank").cast("double")).cast("decimal(28,9)"), 9)
    ly = F.round(F.log(F.col("freq").cast("double")).cast("decimal(28,9)"), 9)
    slope, intercept = line_fit()
    return top.agg(*line_sums(lx, ly)).select(
        F.col("n").cast("long").alias("n_terms"),
        snap_round(slope, 4).alias("zipf_slope"),
        snap_round(intercept, 4).alias("intercept"),
    )


ZIPF_FIT_SQL = f"""
WITH tf AS (
    SELECT term, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKS_FRAGMENT}) AS term
          FROM documents)
    GROUP BY term
),
top AS (
    SELECT * FROM (
        SELECT term, freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
        FROM tf
    ) WHERE rank <= 1000
),
l AS (
    SELECT ROUND(CAST(LN(CAST(rank AS DOUBLE)) AS DECIMAL(28,9)), 9) AS lx,
           ROUND(CAST(LN(CAST(freq AS DOUBLE)) AS DECIMAL(28,9)), 9) AS ly
    FROM top
),
s AS (SELECT {line_sums_sql("lx", "ly")} FROM l)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(ROUND(CAST(slope AS DECIMAL(28,8)), 4) AS DOUBLE) AS zipf_slope,
       CAST(ROUND(CAST(intercept AS DECIMAL(28,8)), 4) AS DOUBLE) AS intercept
FROM {line_fit_sql("s")}
"""


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability (Flesch-Kincaid grade): words/sentences and
    syllables/words ratios through the standard 0.39/11.8/−15.59 formula —
    the classic text-quality signal next to the Gopher rule gates, and the
    engine's SCALAR pandas-UDF surface (functions/scalar_udf.py): the three
    counters run as Arrow-vectorized Series kernels, deliberately chosen
    regex-countable so the whole Python round trip sits under the DuckDB
    hash (same discipline as the multimodal stub codecs). Scale: per-row
    expressions, zero shuffle; the Arrow transfer is the only cost over the
    pure-Column form, and swapping these three UDFs for builtin
    regexp_count is a one-line change per counter when that matters."""
    from candyspark.functions.scalar_udf import (
        sentence_count,
        syllable_count,
        word_count_udf,
    )

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        word_count_udf("text").alias("n_words"),
        sentence_count("text").alias("n_sentences"),
        syllable_count("text").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.when(
        F.col("n_words") > 0,
        F.col("n_syllables").cast("double") / F.col("n_words"),
    ).otherwise(F.lit(0.0))
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        snap_round(grade, 4).alias("fk_grade"),
    ).orderBy("doc_id")


READABILITY_SCORES_SQL = r"""
WITH c AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
           CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
             AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(ROUND(CAST(
           0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
           + 11.8 * (CASE WHEN n_words > 0
                          THEN CAST(n_syllables AS DOUBLE) / n_words
                          ELSE 0.0 END)
           - 15.59
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS fk_grade
FROM c
ORDER BY doc_id
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the one-page summary every corpus release
    ships (docs, token total, language spread, exact-duplicate rate, mean
    quality) — the aggregate a mixture designer reads before weighting
    sources in a training run.

    One scan, one source-keyed aggregate: tokens/quality are scan-stage
    expressions, the dup rate divides distinct content digests by docs
    (both exact counts — COUNT(DISTINCT md5) carries a fixed-width key),
    and the mean quality snaps each per-doc score to DECIMAL before the
    order-independent exact sum (a raw double AVG hashes differently per
    partitioning)."""
    from candyspark.operators.text import fingerprint_md5, quality_score, token_count

    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        "lang",
        token_count("text").cast("long").alias("n_toks"),
        fingerprint_md5("text").alias("content_key"),
        F.round(quality_score("text").cast("decimal(18,6)"), 6).alias("q"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("content_key").cast("long").alias("n_unique"),
        F.sum("q").alias("q_sum"),
    )
    dup_rate = (
        F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs")
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        snap_round(dup_rate, 6).alias("dup_rate"),
        snap_round(F.col("q_sum").cast("double") / F.col("n_docs"), 4).alias(
            "mean_quality"
        ),
    ).orderBy("source")


DATASET_CARD_SQL = f"""
WITH t AS (SELECT source, lang, text, {_AN_TOKS} AS toks FROM documents),
per_doc AS (
    SELECT source, lang,
           CAST(len(toks) AS BIGINT) AS n_toks,
           md5(array_to_string(toks, ' ')) AS content_key,
           CAST(ROUND(CAST({_AN_QUALITY} AS DECIMAL(18,6)), 6) AS DECIMAL(18,6)) AS q
    FROM t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(ROUND(CAST(1.0 - CAST(COUNT(DISTINCT content_key) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS dup_rate,
       CAST(ROUND(CAST(CAST(SUM(q) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_quality
FROM per_doc
GROUP BY source
ORDER BY source
"""


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-source document cap: keep at most 15 documents per
    source, chosen by a deterministic content-hash rank (md5(text),
    doc_id) so the survivor set is reproducible across runs, engines and
    partitionings — never rand(). Emits the survivors with their rank plus
    the per-source population, so drop accounting (n_source - kept) rides
    in the result. This is the corpus-mixture de-domination knob (a hot
    domain cannot swamp the training mix); no reference counterpart.

    Scale: one shuffle on source; the window ranks within each source
    partition. A pathological mega-domain concentrates its partition — the
    100-TB mitigation is a two-phase cap: per-partition partial top-CAP
    (cap is small and fixed) before the source shuffle, exactly the
    TakeOrdered shape, or a pre-filter on a per-source md5 threshold from
    a count sketch. At bench SFs sources are uniform and the single
    window is the right plan.
    """
    cap = 15
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("int").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_source"),
    )
    return ranked.filter(F.col("rk") <= cap).orderBy("source", "rk")


SOURCE_CAPS_SQL = """
SELECT doc_id, source, rk, n_source FROM (
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY md5(text), doc_id) AS INT) AS rk,
           COUNT(*) OVER (PARTITION BY source) AS n_source
    FROM documents
) WHERE rk <= 15
ORDER BY source, rk
"""


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, four merge rounds in-engine: start from the
    character-level vocabulary, repeatedly (a) count corpus-weighted
    adjacent symbol pairs, (b) take the argmax as the next merge rule,
    (c) apply it greedily left-to-right to every word. Extends
    ``q_bpe_pair_counts`` (one counting iteration, oracle-checked) to the
    actual learned merge table (Sennrich et al. 2016).

    Scale shape: everything after the first aggregate is VOCAB-bounded —
    the corpus collapses to (word, freq) once, map-side combined, and each
    round's pair count + merge application runs over distinct words only.
    Per round the argmax is a 1-row driver scalar (the schema-bounded
    collect pattern, like the Markov solve); the merge applies as a pure
    codegen fold (``F.aggregate`` with an array accumulator — a new symbol
    merges with the accumulated tail iff tail==left ∧ x==right, which is
    exactly greedy leftmost because a just-merged tail equals left+right
    and can never re-trigger). Rounds chain through localCheckpoint so
    lineage stays flat. A production trainer runs thousands of rounds —
    there you batch non-overlapping merges per round; four rounds is the
    demonstrative unit. Sequential argmax chain → rows-only driver check;
    tests recompute the merge table with an independent Counter-based
    trainer.
    """
    merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, weight long"
    ).orderBy("merge_rank")


def _bpe_chars(word_col) -> "F.Column":
    """Word → character-symbol array (the BPE base vocabulary)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: word_col.substr(i, F.lit(1)),
    )


def _bpe_fold(left: str, right: str) -> "F.Column":
    """One merge rule applied greedy-leftmost as a pure codegen fold over
    ``syms``: a new symbol merges with the accumulated tail iff
    tail == left ∧ x == right — exactly greedy leftmost, because a
    just-merged tail equals left+right and can never re-trigger. The ONE
    definition both the trainer and the encoder use (shared-definition
    rule, SCALE.md)."""
    a, b = F.lit(left), F.lit(right)
    return F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(a, b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: merge rounds the BPE trainer runs; its oracle CTE chain unrolls as many
BPE_ROUNDS = 4


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The training loop shared by q_bpe_train_merges (which reports the
    merge table) and q_bpe_encode (which applies it): per round (``BPE_ROUNDS``) one
    vocab-bounded pair count, a 1-row argmax collect, and the greedy fold.
    Returns [(rank, left, right, merged, weight), ...]."""
    from candyspark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", _bpe_chars(F.col("word")).alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple] = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = words.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("long").alias("weight"))
            .orderBy(F.desc("weight"), "l", "r")
            .first()
        )
        if best is None:
            break
        merges.append((r, best["l"], best["r"], best["l"] + best["r"], best["weight"]))
        words = words.select("freq", _bpe_fold(best["l"], best["r"]).alias("syms")).localCheckpoint()
    return merges


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the trained merge table — the inference half of
    the tokenizer (q_bpe_train_merges is the training half): apply the
    ranked merges in order to every word and report per-source token
    economics (chars per word before, BPE symbols per word after, the
    compression the merge table buys).

    Scale shape: encoding runs over the DISTINCT-word vocabulary, never
    the corpus — each word's symbol array chains through the (bounded,
    trained) merge folds as pure codegen, and per-source totals come from
    joining the vocabulary's (word → n_syms) map back onto the
    vocab-bounded (source, word, freq) counts via broadcast. A corpus of
    any size pays |vocab| fold evaluations + one (source, word) aggregate.
    Rows-only: the trained merges come from the iterative argmax chain
    (no SQL oracle), so the encode report inherits that status; tests pin
    the fold against an independent Python encoder and the
    concat-invariance property (joining syms reproduces the word).
    """
    from candyspark.operators.text import tokens

    merges = _bpe_train(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_ignored"))
        .select("word", _bpe_chars(F.col("word")).alias("syms"))
    )
    for _, left, right, _, _ in merges:
        vocab = vocab.select("word", _bpe_fold(left, right).alias("syms"))
    encoded = vocab.select(
        "word",
        F.length("word").alias("n_chars"),
        F.size("syms").alias("n_syms"),
    )
    per_source_word = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        per_source_word.join(F.broadcast(encoded), "word")
        .groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_tokens"),
            F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("total_chars"),
            F.sum(F.col("freq") * F.col("n_syms")).cast("long").alias("total_syms"),
        )
        .select(
            "source",
            "n_tokens",
            "total_chars",
            "total_syms",
            snap_round(
                F.col("total_chars").cast("double") / F.col("n_tokens").cast("double"), 4
            ).alias("chars_per_token"),
            snap_round(
                F.col("total_syms").cast("double") / F.col("n_tokens").cast("double"), 4
            ).alias("syms_per_token"),
            snap_round(
                F.col("total_syms").cast("double") / F.col("total_chars").cast("double"),
                6,
            ).alias("compression"),
        )
        .orderBy("source")
    )


def q_explode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving flatten: ``posexplode_outer`` keeps a row for
    documents whose token array is EMPTY (null pos/term) — the semantic
    edge the plain explode family silently loses rows on, and the same
    hazard class as the reference's ``na.drop()`` dropping 154 item-less
    orders (/root/reference/src/data_processor.py:508, SURVEY.md §1.2).
    A corpus pipeline that inner-explodes chunks loses empty documents
    from every downstream accounting join; the outer form keeps the
    document spine intact. Output: first two token positions per doc plus
    the null row for token-less docs — every doc_id present by
    construction.

    Scale: scan-stage only (explode + filter, no shuffle); the oracle
    states the same semantics via LEFT JOIN LATERAL over the position
    range.
    """
    from candyspark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.posexplode_outer(tokens("text")).alias("pos", "term"),
        )
        .filter(F.col("pos").isNull() | (F.col("pos") <= 1))
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "term")
        .orderBy("doc_id", "pos")
    )


EXPLODE_OUTER_TOKENS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents)
SELECT doc_id, CAST(u.pos AS INT) AS pos, toks[u.pos + 1] AS term
FROM t LEFT JOIN LATERAL (
    SELECT unnest(range(len(toks))) AS pos
) u ON TRUE
WHERE u.pos IS NULL OR u.pos <= 1
ORDER BY doc_id, pos
"""


def q_mix_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing weights: per-source sampling share
    w_i = n_i^α / Σ n_j^α at α = 0.7 — the standard pretraining-mixture
    flattening (α=1 is proportional, α→0 uniform; 0.7 upweights small
    sources without drowning big ones). Reports each source's raw share,
    its temperature share, and the boost factor the temperature applies.

    Exactness: one transcendental per SOURCE (POWER(n, 0.7)), snapped to
    6 dp and then fixed as DECIMAL(18,6) so the normalizing sum is exact
    and partial-order independent; ratios snap once at the output. Scale:
    the corpus collapses to ≤|sources| count rows map-side; everything
    after is arithmetic on that tiny relation.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    powed = counts.select(
        "source",
        "n_docs",
        snap_round(F.pow(F.col("n_docs").cast("double"), F.lit(0.7)), 6)
        .cast("decimal(18,6)")
        .alias("npow"),
    )
    totals = powed.agg(
        F.sum("npow").alias("sum_pow"), F.sum("n_docs").alias("n_total")
    )
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            snap_round(F.col("n_docs") / F.col("n_total"), 6).alias("raw_share"),
            snap_round(
                F.col("npow").cast("double") / F.col("sum_pow").cast("double"), 6
            ).alias("temp_share"),
            snap_round(
                (F.col("npow").cast("double") / F.col("sum_pow").cast("double"))
                / (F.col("n_docs") / F.col("n_total")),
                6,
            ).alias("boost"),
        )
        .orderBy("source")
    )


MIX_WEIGHTS_TEMPERATURE_SQL = """
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
powed AS (
    SELECT source, n_docs,
           CAST(ROUND(CAST(POWER(CAST(n_docs AS DOUBLE), 0.7)
                AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS npow
    FROM counts
),
totals AS (SELECT SUM(npow) AS sum_pow, SUM(n_docs) AS n_total FROM powed)
SELECT source, n_docs,
       CAST(ROUND(CAST(n_docs / n_total AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS raw_share,
       CAST(ROUND(CAST(CAST(npow AS DOUBLE) / CAST(sum_pow AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS temp_share,
       CAST(ROUND(CAST((CAST(npow AS DOUBLE) / CAST(sum_pow AS DOUBLE))
            / (n_docs / n_total) AS DECIMAL(28,8)), 6) AS DOUBLE) AS boost
FROM powed CROSS JOIN totals
ORDER BY source
"""


# --- Kneser-Ney smoothed bigram language model --------------------------------


def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (fixed discount
    D=0.75) — the n-gram language-model smoothing under KenLM-style
    corpus scoring, built entirely from the DISTINCT-bigram relation:

        P(w2|w1) = (c(w1,w2) - D)/c(w1.)
                   + (D * N1+(w1,.)/c(w1.)) * (N1+(.,w2)/T)

    where c(w1.) is the left-context total, N1+(w1,.) the context fanout
    (distinct continuations of w1), N1+(.,w2) the continuation count
    (distinct contexts preceding w2 — KN's signature: how PROMISCUOUS a
    word is, not how frequent), and T the number of distinct bigram types.

    Scale: the bigram count relation is materialized ONCE
    (localCheckpoint) and every marginal — left totals, continuation
    counts, the 1-row type total — derives from it by aggregation, never
    a corpus re-scan; marginals are vocabulary-sized dims broadcast back
    onto the pair relation. Contexts with c(w1.) < 50 are dropped (rare
    contexts put P≈1 on noise continuations) and top-30 is TakeOrdered.

    Exactness: every input is an exact long count; D=0.75 is exact in
    binary; the two-term sum evaluates in double with IDENTICAL
    association in both engines and snaps once at 8 dp.
    """
    from candyspark.operators import text as X
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = X.tokens("text")
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bc = (
        d.select(F.explode(pairs).alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    left = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    right = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    tot = bc.agg(F.count(F.lit(1)).alias("t"))
    c1d = F.col("c1").cast("double")
    p_kn = (F.col("c").cast("double") - 0.75) / c1d + (
        0.75 * F.col("n1f") / c1d
    ) * (F.col("n1p") / F.col("t").cast("double"))
    return (
        bc.join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c1") >= 50)
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_bigram"),
            F.col("c1").alias("n_context"),
            F.col("n1f").alias("context_fanout"),
            F.col("n1p").alias("continuation"),
            F.round(p_kn.cast("decimal(28,12)"), 8).cast("double").alias("p_kn"),  # widened: snap_round(·,8) is zero-margin
        )
        .orderBy(F.desc("p_kn"), "w1", "w2")
        .limit(30)
    )


KNESER_NEY_BIGRAM_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
b AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t
),
bc AS (
    SELECT split_part(bigram, ' ', 1) AS w1,
           split_part(bigram, ' ', 2) AS w2,
           COUNT(*) AS c
    FROM b
    GROUP BY 1, 2
),
lft AS (
    SELECT w1, CAST(SUM(c) AS BIGINT) AS c1, COUNT(*) AS n1f
    FROM bc GROUP BY w1
),
rgt AS (SELECT w2, COUNT(*) AS n1p FROM bc GROUP BY w2),
tot AS (SELECT COUNT(*) AS t FROM bc)
SELECT w1, w2, c AS n_bigram, c1 AS n_context,
       n1f AS context_fanout, n1p AS continuation,
       CAST(ROUND(CAST(
           (CAST(c AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
           + (0.75 * n1f / CAST(c1 AS DOUBLE)) * (n1p / CAST(t AS DOUBLE))
           AS DECIMAL(28,12)), 8) AS DOUBLE) AS p_kn
FROM bc
JOIN lft USING (w1)
JOIN rgt USING (w2)
CROSS JOIN tot
WHERE c1 >= 50
ORDER BY p_kn DESC, w1, w2
LIMIT 30
"""


def q_boilerplate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate audit — the report a curator reads BEFORE
    running segment dedup (dedup_paragraphs is the surgery; this is the
    diagnosis): for each source, how many distinct 10-word segments repeat
    across ≥20% of the source's documents (and ≥3 docs absolute), and what
    share of the source's segment OCCURRENCES that boilerplate owns. A
    templated source (nav bars, footers, license blocks) shows a high
    occurrence share — the signal that drives C4/RefinedWeb-style
    boilerplate stripping thresholds.

    Flow: segment rebuild (the dedup_paragraphs segmentation, same unit so
    the two operators agree) → per-(source, segment) document frequency →
    per-source rollup with the boilerplate predicate as exact integer
    cross-multiplication (5·df ≥ n_docs — never float-vs-float at the
    threshold). Scale: two keyed exchanges ((doc, seg) rebuild, then
    (source, seg) df); the rollup is map-side combined; at 100 TB the df
    key should be xxhash64 of the segment (the word_segments note).
    """
    d = load_table(spark, sf_dir, "documents")
    segs = word_segments(d, "source")
    seg_df = segs.groupBy("source", "seg").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("occurrences"),
    )
    src_docs = d.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    flagged = seg_df.join(F.broadcast(src_docs), "source").withColumn(
        "is_boiler",
        (F.col("df") * 5 >= F.col("n_docs")) & (F.col("df") >= 3),
    )
    return (
        flagged.groupBy("source", "n_docs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_segs"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
            .cast("long")
            .alias("n_boilerplate_segs"),
            F.sum("occurrences").cast("long").alias("n_occurrences"),
            F.sum(F.when(F.col("is_boiler"), F.col("occurrences")).otherwise(0))
            .cast("long")
            .alias("boiler_occurrences"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct_segs",
            "n_boilerplate_segs",
            snap_round(
                F.col("boiler_occurrences").cast("double")
                / F.col("n_occurrences").cast("double"),
                6,
            ).alias("boilerplate_share"),
        )
        .orderBy("source")
    )


BOILERPLATE_AUDIT_SQL = f"""
WITH {segments_sql("source")},
seg_df AS (
    SELECT source, seg,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM seg_rows GROUP BY source, seg
),
src_docs AS (
    SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
),
flagged AS (
    SELECT seg_df.*, n_docs,
           (df * 5 >= n_docs AND df >= 3) AS is_boiler
    FROM seg_df JOIN src_docs USING (source)
)
SELECT source, n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_segs,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boilerplate_segs,
       CAST(ROUND(CAST(
           CAST(SUM(CASE WHEN is_boiler THEN occurrences ELSE 0 END) AS DOUBLE)
           / CAST(SUM(occurrences) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS boilerplate_share
FROM flagged
GROUP BY source, n_docs
ORDER BY source
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap — which sources mirror each other:
    per unordered source pair, how many distinct 10-word segments they
    share, normalized by the smaller source's segment set (the overlap
    coefficient). The dataset-level diagnostic ABOVE document dedup: two
    mirrored sources show a high coefficient even when no single document
    pair crosses the near-dup threshold, and the curator drops or
    downweights one source rather than deduping a million pairs.

    Shape: the shared segment grain (dedup_paragraphs / boilerplate_audit
    segmentation) → per-segment DISTINCT source set (array_agg over a
    ≤|sources| set) → pair explode bounded by sources-per-segment (≤20³
    worst case per segment, constant at any corpus size) → one pair
    aggregate; per-source segment-set sizes broadcast back. All counts
    exact; one snapped coefficient. Top-15 by coefficient, total order.
    """
    d = load_table(spark, sf_dir, "documents")
    segs = (
        word_segments(d, "source").select("source", "seg").distinct().localCheckpoint()
    )
    sizes = segs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs")
    )
    a, b = segs.alias("a"), segs.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_segs").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_segs").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            snap_round(
                F.col("n_shared").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
                6,
            ).alias("overlap_coeff"),
        )
        .orderBy(F.desc("overlap_coeff"), "src_a", "src_b")
        .limit(15)
    )


SOURCE_OVERLAP_SQL = f"""
WITH {segments_sql("source")},
segs AS (SELECT DISTINCT source, seg FROM seg_rows),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segs FROM segs GROUP BY 1),
shared AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM segs a JOIN segs b ON a.seg = b.seg AND a.source < b.source
    GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared,
       CAST(ROUND(CAST(CAST(n_shared AS DOUBLE)
            / CAST(LEAST(sa.n_segs, sb.n_segs) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS overlap_coeff
FROM shared
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY overlap_coeff DESC, src_a, src_b
LIMIT 15
"""


def q_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget WATERFILLING across sources — the optimization step
    between mixing weights and a training run: given per-source available
    tokens a_i, target proportions w_i ∝ a_i^0.7 (the temperature-mixing
    convention, mix_weights_temperature), and a total budget B (here the
    data-derived 50% of all tokens), allocate n_i = min(a_i, w_i·λ) with
    the water level λ chosen so Σn_i = B — small sources saturate and
    their shortfall redistributes to the rest in proportion.

    Exact-threshold construction, no iteration: sort sources by the
    saturation point r_i = a_i/w_i; for each prefix k the candidate level
    is λ(k) = (B − Σ_{i≤k} a_i)/(Σ_{j>k} w_j), and the UNIQUE valid k
    satisfies r_k ≤ λ(k) ≤ r_{k+1} — a window computation over the
    ≤|sources|-row relation (waterfilling's closed form, the same
    boundaries-then-assign discipline as lorenz_curve). All token counts
    exact; w, r, λ snap through decimals so both engines pick the same k;
    one snap per allocation.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.size(F.split("text", " ")).cast("long").alias("t"))
    avail = toks.groupBy("source").agg(F.sum("t").cast("long").alias("a"))
    w_raw = F.round(
        F.pow(F.col("a").cast("double"), 0.7).cast("decimal(28,8)"), 6
    ).cast("decimal(20,6)")
    weighted = avail.select("source", "a", w_raw.alias("w"))
    whole = Window.partitionBy()
    totals = weighted.select(
        "source",
        "a",
        "w",
        F.sum("a").over(whole).alias("a_tot"),
        F.sum("w").over(whole).alias("w_tot"),
    ).withColumn(
        "r",
        F.round(
            (F.col("a").cast("double") / F.col("w").cast("double")).cast(
                "decimal(28,8)"
            ),
            6,
        ).cast("double"),
    )
    w_ord = Window.orderBy("r", "source")
    w_pref = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    staged = totals.select(
        "source",
        "a",
        "w",
        "r",
        (F.col("a_tot").cast("double") / 2.0).alias("budget"),
        F.sum("a").over(w_pref).cast("long").alias("pref_a"),
        F.sum("w").over(w_pref).alias("pref_w"),
        F.col("a_tot"),
        F.col("w_tot"),
        F.lead("r").over(w_ord).alias("r_next"),
    )
    # ANSI guard: the last prefix row has w_tot == pref_w (all sources
    # saturated) — never the valid k at budget < a_tot, but the division
    # must not evaluate
    lam_k = F.round(
        F.when(
            (F.col("w_tot") - F.col("pref_w")).cast("double") > 0.0,
            (F.col("budget") - F.col("pref_a").cast("double"))
            / (F.col("w_tot") - F.col("pref_w")).cast("double"),
        ).cast("decimal(28,8)"),
        6,
    ).cast("double")
    # the valid water level: r_k ≤ λ(k) and (last row or λ(k) ≤ r_{k+1});
    # λ(0) (no source saturated) rides as a fallback when even the
    # smallest r exceeds it
    lam0 = F.round(
        (F.col("budget") / F.col("w_tot").cast("double")).cast("decimal(28,8)"),
        6,
    ).cast("double")
    levels = staged.select(
        "budget",
        "w_tot",
        F.when(
            (F.col("r") <= lam_k)
            & (F.col("r_next").isNull() | (lam_k <= F.col("r_next"))),
            lam_k,
        ).alias("lam_valid"),
        F.min(F.when(F.col("r") >= lam0, lam0)).over(whole).alias("lam0_valid"),
    ).agg(
        F.coalesce(F.max("lam_valid"), F.max("lam0_valid")).alias("lam")
    )
    alloc = F.least(
        F.col("a").cast("double"), F.col("w").cast("double") * F.col("lam")
    )
    return (
        totals.crossJoin(F.broadcast(levels))
        .select(
            "source",
            F.col("a").alias("available_tokens"),
            F.round(alloc.cast("decimal(28,6)"), 0)
            .cast("long")
            .alias("allocated_tokens"),
            (F.col("a").cast("double") <= F.col("w").cast("double") * F.col("lam")).alias(
                "saturated"
            ),
        )
        .orderBy("source")
    )


TOKEN_BUDGET_ALLOCATION_SQL = """
WITH toks AS (
    SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
    FROM documents
),
avail AS (SELECT source, CAST(SUM(t) AS BIGINT) AS a FROM toks GROUP BY source),
weighted AS (
    SELECT source, a,
           CAST(ROUND(CAST(POW(CAST(a AS DOUBLE), 0.7) AS DECIMAL(28,8)), 6)
                AS DECIMAL(20,6)) AS w
    FROM avail
),
totals AS (
    SELECT source, a, w,
           SUM(a) OVER () AS a_tot,
           SUM(w) OVER () AS w_tot,
           CAST(ROUND(CAST(CAST(a AS DOUBLE) / CAST(w AS DOUBLE)
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS r
    FROM weighted
),
staged AS (
    SELECT source, a, w, r,
           CAST(a_tot AS DOUBLE) / 2.0 AS budget,
           CAST(SUM(a) OVER wo AS BIGINT) AS pref_a,
           SUM(w) OVER wo AS pref_w,
           a_tot, w_tot,
           LEAD(r) OVER (ORDER BY r, source) AS r_next
    FROM totals
    WINDOW wo AS (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
levels AS (
    SELECT COALESCE(
               MAX(CASE WHEN r <= lam_k AND (r_next IS NULL OR lam_k <= r_next)
                        THEN lam_k END),
               MAX(CASE WHEN r >= lam0 THEN lam0 END)) AS lam
    FROM (
        SELECT r, r_next,
               CAST(ROUND(CAST(CASE WHEN CAST(w_tot - pref_w AS DOUBLE) > 0.0
                    THEN (budget - CAST(pref_a AS DOUBLE))
                         / CAST(w_tot - pref_w AS DOUBLE) END
                    AS DECIMAL(28,8)), 6) AS DOUBLE) AS lam_k,
               CAST(ROUND(CAST(budget / CAST(w_tot AS DOUBLE)
                    AS DECIMAL(28,8)), 6) AS DOUBLE) AS lam0
        FROM staged
    )
)
SELECT source,
       a AS available_tokens,
       CAST(ROUND(CAST(LEAST(CAST(a AS DOUBLE), CAST(w AS DOUBLE) * lam)
            AS DECIMAL(28,6)), 0) AS BIGINT) AS allocated_tokens,
       CAST(a AS DOUBLE) <= CAST(w AS DOUBLE) * lam AS saturated
FROM totals CROSS JOIN levels
ORDER BY source
"""


def q_source_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy set cover over sources — WHICH five sources to acquire to
    cover the most unique content: each round picks the source with the
    largest MARGINAL distinct-segment coverage given everything already
    covered (the classic (1−1/e) greedy for submodular coverage; the
    data-acquisition twin of token_budget_allocation's how-much question).

    Round-6 shape: the greedy never needs the segments themselves — only,
    per segment, WHICH sources contain it. One pass rolls the segment
    relation up to its source-SUBSET signature histogram (≤ 2^|sources|
    rows, the decision table, never data — the BPE trainer's
    schema-bounded scalar pattern), and all five greedy rounds run on
    that collected histogram with exact integer marginals: round r's
    marginal(s) = Σ cnt over subsets containing s and disjoint from the
    picked set — the same number the v1 anti-join + aggregate computed,
    without 5 rounds of anti-joins, covered-set checkpoints, and per-round
    collects (v1: ~15 sequential jobs; v2: one). Ties break (marginal
    desc, source asc), identical to the unrolled oracle. Output: pick
    order, marginal gain, cumulative coverage share — exact integers
    plus one snapped share.
    """
    d = load_table(spark, sf_dir, "documents")
    seg_rel = word_segments(d, "source").select("source", "seg")
    subset_hist = (
        seg_rel.groupBy("seg")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .groupBy("srcs")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )
    hist = [(frozenset(r["srcs"]), r["cnt"]) for r in subset_hist]
    n_total = sum(c for _, c in hist)
    picked: set = set()
    picks = []
    cum = 0
    for rnd in range(1, 6):
        marginals: dict = {}
        for srcs, cnt in hist:
            if srcs & picked:
                continue
            for s in srcs:
                marginals[s] = marginals.get(s, 0) + cnt
        if not marginals:
            break
        src, gain = min(marginals.items(), key=lambda kv: (-kv[1], kv[0]))
        if gain == 0:
            break
        cum += gain
        picks.append((rnd, src, gain, cum))
        picked.add(src)
    out = spark.createDataFrame(
        picks, "pick int, source string, marginal_segs long, cum_segs long"
    )
    return out.select(
        "pick",
        "source",
        "marginal_segs",
        F.round(
            (F.col("cum_segs").cast("double") / float(n_total)).cast(
                "decimal(28,8)"
            ),
            6,
        )
        .cast("double")
        .alias("cum_coverage_share"),
    ).orderBy("pick")


def _set_cover_sql() -> str:
    base = f"""
WITH {segments_sql("source")},
segs AS (SELECT DISTINCT source, seg FROM seg_rows),
n_total AS (SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS n FROM segs)"""
    rounds = []
    prev_cov = None
    for r in range(1, 6):
        rem = (
            "segs"
            if prev_cov is None
            else f"(SELECT s.* FROM segs s LEFT JOIN {prev_cov} c USING (seg) WHERE c.seg IS NULL)"
        )
        rounds.append(
            f"""pick{r} AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS marginal
    FROM {rem} GROUP BY source ORDER BY marginal DESC, source LIMIT 1
)"""
        )
        cov_terms = " UNION ".join(
            f"SELECT seg FROM segs WHERE source = (SELECT source FROM pick{i})"
            for i in range(1, r + 1)
        )
        rounds.append(f"cov{r} AS ({cov_terms})")
        prev_cov = f"cov{r}"
    picks_union = "\nUNION ALL\n".join(
        f"SELECT {r} AS pick, source, marginal FROM pick{r}" for r in range(1, 6)
    )
    return (
        base
        + ",\n"
        + ",\n".join(rounds)
        + f""",
picks AS ({picks_union})
SELECT pick, source, marginal AS marginal_segs,
       CAST(ROUND(CAST(
           CAST(SUM(marginal) OVER (ORDER BY pick
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST((SELECT n FROM n_total) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS cum_coverage_share
FROM picks
WHERE marginal > 0
ORDER BY pick
"""
    )


SOURCE_SET_COVER_SQL = _set_cover_sql()


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth — V(n) ≈ K·n^β, the corpus-linguistics
    twin of zipf_fit (the two laws are duals): as token count n grows,
    how fast does the DISTINCT vocabulary grow? β near 1 means the corpus
    keeps surprising you (open vocabulary, heavy dedup value); β ≪ 1
    means saturation. The log-log OLS fit over cumulative checkpoints is
    the curator's expected-new-tokens extrapolation.

    Running distinct count WITHOUT a distinct-per-prefix rescan: each
    term contributes exactly once at its FIRST occurrence (min doc rank
    per term — one aggregate over the tf relation), so V(r) is a
    cumulative count over the first-occurrence relation; token prefix
    n(r) is a cumulative sum over per-doc token counts. Both windows run
    over the bounded doc-rank relation; 16 evenly-spaced checkpoints feed
    the log-log fit (lns snapped per point, exact sums, Cramer in double
    with one snap per coefficient).

    Vocabulary unit = word TRIGRAMS, not unigrams: the synthetic fixture
    draws from a 31-word lexicon, so the unigram vocabulary saturates
    inside the first document and the fitted β is exactly 0 — a gate that
    certifies nothing (round-2 verdict's vacuous-gate finding). The
    trigram type space (≤31³) keeps growing across the whole corpus
    (β ≈ 0.83 at sf0.01); the first-occurrence trick, checkpoint grid,
    and log-log fit are unit-agnostic, and real open-vocabulary corpora
    would use unigrams unchanged.
    """
    from candyspark.operators.text import tokens
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    w = Window.orderBy("doc_id")
    ranked = d.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.row_number().over(w).cast("long").alias("r"),
        F.size("toks").cast("long").alias("n_toks"),
        "toks",
    ).localCheckpoint()
    trigrams = F.when(
        F.size("toks") >= 3,
        F.zip_with(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 2),
                F.slice("toks", 2, F.size("toks") - 2),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
            F.slice("toks", 3, F.size("toks") - 2),
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
    ).otherwise(F.array().cast("array<string>"))
    first_occ = (
        ranked.select("r", F.explode(trigrams).alias("term"))
        .groupBy("term")
        .agg(F.min("r").alias("fr"))
        .groupBy("fr")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    w_r = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.partitionBy()
    grid = (
        ranked.select("r", "n_toks")
        .join(first_occ.withColumnRenamed("fr", "r"), "r", "left")
        .select(
            "r",
            F.sum("n_toks").over(w_r).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_terms"), F.lit(0)))
            .over(w_r)
            .cast("long")
            .alias("vocab"),
            F.count(F.lit(1)).over(whole).cast("long").alias("n_docs"),
        )
        .filter((F.col("r") * 16) % F.col("n_docs") < 16)  # ~16 checkpoints
        .filter(F.col("vocab") > 0)
    )
    pts = grid.select(
        F.round(F.log(F.col("cum_tokens").cast("double")).cast("decimal(28,10)"), 8)
        .cast("decimal(20,8)")
        .alias("lx"),
        F.round(F.log(F.col("vocab").cast("double")).cast("decimal(28,10)"), 8)
        .cast("decimal(20,8)")
        .alias("ly"),
    )
    beta, log_k = line_fit()
    return pts.agg(*line_sums(F.col("lx"), F.col("ly"))).select(
        F.col("n").cast("long").alias("n_checkpoints"),
        snap_round(beta, 6).alias("heaps_beta"),
        snap_round(F.exp(log_k), 4).alias("heaps_k"),
    )


HEAPS_LAW_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
ranked AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS r,
           CAST(len(toks) AS BIGINT) AS n_toks,
           toks
    FROM t
),
first_occ AS (
    SELECT fr, CAST(COUNT(*) AS BIGINT) AS new_terms
    FROM (SELECT term, MIN(r) AS fr
          FROM (SELECT r, unnest(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                     AS term
                FROM ranked)
          GROUP BY term)
    GROUP BY fr
),
grid AS (
    SELECT r,
           CAST(SUM(n_toks) OVER wr AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(new_terms, 0)) OVER wr AS BIGINT) AS vocab,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_docs
    FROM ranked LEFT JOIN first_occ ON first_occ.fr = ranked.r
    WINDOW wr AS (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pts AS (
    SELECT CAST(ROUND(CAST(LN(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(28,10)), 8)
               AS DECIMAL(20,8)) AS lx,
           CAST(ROUND(CAST(LN(CAST(vocab AS DOUBLE)) AS DECIMAL(28,10)), 8)
               AS DECIMAL(20,8)) AS ly
    FROM grid
    WHERE (r * 16) % n_docs < 16 AND vocab > 0
),
s AS (SELECT {line_sums_sql("lx", "ly")} FROM pts)
SELECT CAST(n AS BIGINT) AS n_checkpoints,
       CAST(ROUND(CAST(slope AS DECIMAL(28,8)), 6) AS DOUBLE) AS heaps_beta,
       CAST(ROUND(CAST(EXP(intercept) AS DECIMAL(28,8)), 4) AS DOUBLE) AS heaps_k
FROM {line_fit_sql("s")}
"""


def q_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K vocabulary-richness characteristic per source:
    K = 10⁴·(Σ_t f_t² − N)/N² — the repetitiveness number corpus curators
    read next to zipf_fit/heaps_law (K rises as a source recycles the same
    tokens; template farms and boilerplate-heavy crawls jump out). K is a
    function of the frequency SPECTRUM only, so it needs exactly the tf
    relation every other text operator already builds.

    Exactness: N and Σf² are integer sums (Σf² in DECIMAL(38,0) — a
    100-TB-source term frequency squared overflows int64), K is ONE double
    expression snapped at 6 dp — both engines run identical algebra on
    identical integers.

    Scale: one tokenize+explode scan into a map-side-combined
    (source, term) aggregate, then a ≤|sources| rollup. Nothing else.
    """
    from candyspark.operators.text import tokens
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    per_src = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f").cast("decimal(38,0)"))
        .alias("s2"),
    )
    k = (
        F.lit(10_000.0)
        * (F.col("s2").cast("double") - F.col("n_tokens").cast("double"))
        / (F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double"))
    )
    return per_src.select(
        "source",
        "n_types",
        "n_tokens",
        snap_round(k, 6).alias("yules_k"),
    ).orderBy("source")


YULES_K_SQL = f"""
WITH tf AS (
    SELECT source, term, COUNT(*) AS f
    FROM (SELECT source, unnest({_TOKS_FRAGMENT}) AS term FROM documents)
    GROUP BY source, term
),
per_src AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           SUM(CAST(f AS DECIMAL(38,0)) * CAST(f AS DECIMAL(38,0))) AS s2
    FROM tf GROUP BY source
)
SELECT source, n_types, n_tokens,
       CAST(ROUND(CAST(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
                       / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS yules_k
FROM per_src
ORDER BY source
"""


def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed accept/reject gate a pretraining pipeline actually
    ships: Gopher rule bounds (gopher_quality_filter) AND the heuristic
    quality score AND language-ID agreement, per document, with a
    machine-readable flags string naming every failed check (the audit
    trail curators demand — a bare boolean can't drive a triage queue).
    Each signal already exists as its own oracle-checked operator; this
    is the ensemble composition over ONE shared tokenize pass.

    Determinism: all three verdicts are reused expressions with their
    established snapping; the flags string concatenates fixed-order
    literals (never a collected set).

    Scale: per-row expressions only — scan-stage, zero data-dependent
    exchanges, same posture as gopher_quality_filter. Round 6: fanned out —
    the three regex/tokenize signal families per document serialized on the
    single byte-sized split the 5k-doc parquet yields (profiled: two ~1 s
    1-task jobs); the round-robin exchange is a no-op at real scale.
    """
    from candyspark.operators import text as X
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    n, mean_len, frac_alpha, stop_hits = gopher_signal_exprs()
    sig = d.select(
        "doc_id",
        "lang",
        n.cast("int").alias("n_words"),
        snap_round(mean_len, 4).alias("mean_word_len"),
        snap_round(frac_alpha, 6).alias("frac_alpha"),
        stop_hits.cast("int").alias("stop_hits"),
        X.quality_score("text").alias("qscore"),
        X.lang_guess("text").alias("lang_guess"),
    )
    gopher_ok = gopher_passes_expr(
        F.col("n_words"),
        F.col("mean_word_len"),
        F.col("frac_alpha"),
        F.col("stop_hits"),
    )
    quality_ok = F.col("qscore") >= 0.5
    lang_ok = F.col("lang_guess") == F.col("lang")
    flags = F.concat(
        F.when(~gopher_ok, F.lit("gopher;")).otherwise(F.lit("")),
        F.when(~quality_ok, F.lit("low_quality;")).otherwise(F.lit("")),
        F.when(~lang_ok, F.lit("lang_mismatch;")).otherwise(F.lit("")),
    )
    return sig.select(
        "doc_id",
        gopher_ok.alias("gopher_pass"),
        quality_ok.alias("quality_pass"),
        lang_ok.alias("lang_pass"),
        (gopher_ok & quality_ok & lang_ok).alias("passes"),
        flags.alias("flags"),
    ).orderBy("doc_id")


def _quality_ensemble_sql() -> str:
    from candyspark.plans.extensions import LANG_ID_SQL, TEXT_STATS_SQL

    return f"""
WITH stats AS ({TEXT_STATS_SQL}),
langid AS ({LANG_ID_SQL}),
t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
sig AS (
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_words,
           CAST(ROUND(CAST(CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                     / len(toks) ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE)
             AS mean_word_len,
           CAST(ROUND(CAST(CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                          AS DOUBLE) / len(toks) ELSE 0.0 END
                AS DECIMAL(28,8)), 6) AS DOUBLE) AS frac_alpha,
           CAST(len(list_intersect(list_distinct(toks),
                ['the', 'and', 'of', 'to', 'in', 'a', 'is'])) AS INTEGER)
             AS stop_hits
    FROM t
),
v AS (
    SELECT sig.doc_id,
           (n_words >= 10 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND frac_alpha >= 0.8 AND stop_hits >= 2) AS gopher_pass,
           (s.quality_score >= 0.5) AS quality_pass,
           (l.lang_guess = l.lang) AS lang_pass
    FROM sig
    JOIN stats s ON s.doc_id = sig.doc_id
    JOIN langid l ON l.doc_id = sig.doc_id
)
SELECT doc_id, gopher_pass, quality_pass, lang_pass,
       (gopher_pass AND quality_pass AND lang_pass) AS passes,
       (CASE WHEN NOT gopher_pass THEN 'gopher;' ELSE '' END)
       || (CASE WHEN NOT quality_pass THEN 'low_quality;' ELSE '' END)
       || (CASE WHEN NOT lang_pass THEN 'lang_mismatch;' ELSE '' END) AS flags
FROM v
ORDER BY doc_id
"""


QUALITY_ENSEMBLE_SQL = _quality_ensemble_sql()


def _bpe_round_ctes() -> str:
    """Shared CTE chain for the BPE oracles: w0 = (freq, char-syms) per
    distinct word; per round r, b{r} = argmax pair (weight DESC, l, r —
    the trainer's exact total order) and w{r} = the merge applied.

    The greedy-leftmost fold translates to SQL as replace() over symbols
    wrapped INDIVIDUALLY as ``|sym|``: matches of ``|L||R|`` can never
    overlap (each symbol's wrapper is its own), and SQL replace scans
    left-to-right continuing after each replacement — exactly the fold's
    guarantee that a just-merged tail never re-triggers. (A space-JOINED
    form would be wrong: adjacent occurrences share the delimiter, so
    ``a b a b`` would merge only once.)
    """
    parts = [
        f"""w0 AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS freq,
           list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
    FROM (SELECT unnest({_TOKS_FRAGMENT}) AS word FROM documents)
    GROUP BY word
)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""b{r} AS MATERIALIZED (
    SELECT l, r, CAST(SUM(freq) AS BIGINT) AS weight FROM (
        SELECT freq, pr[1] AS l, pr[2] AS r FROM (
            SELECT freq, unnest(list_transform(range(1, len(syms)),
                                i -> [syms[i], syms[i + 1]])) AS pr
            FROM w{r - 1} WHERE len(syms) >= 2
        )
    ) GROUP BY l, r
    ORDER BY weight DESC, l, r LIMIT 1
)"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
    SELECT freq,
           list_filter(string_split(
               replace('|' || array_to_string(syms, '||') || '|',
                       '|' || b.l || '||' || b.r || '|',
                       '|' || b.l || b.r || '|'),
               '|'), x -> x != '') AS syms
    FROM w{r - 1} CROSS JOIN b{r} b
)"""
        )
    return ",\n".join(parts)


def _bpe_train_merges_sql() -> str:
    selects = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, weight FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"WITH {_bpe_round_ctes()}\n{selects} ORDER BY merge_rank"


BPE_TRAIN_MERGES_SQL = _bpe_train_merges_sql()


def _bpe_encode_sql() -> str:
    vocab_parts = [
        f"""v0 AS (
    SELECT word, list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
    FROM (SELECT DISTINCT unnest({_TOKS_FRAGMENT}) AS word FROM documents)
)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        vocab_parts.append(
            f"""v{r} AS MATERIALIZED (
    SELECT word,
           list_filter(string_split(
               replace('|' || array_to_string(syms, '||') || '|',
                       '|' || b.l || '||' || b.r || '|',
                       '|' || b.l || b.r || '|'),
               '|'), x -> x != '') AS syms
    FROM v{r - 1} CROSS JOIN b{r} b
)"""
        )
    vocab_ctes = ",\n".join(vocab_parts)
    return f"""
WITH {_bpe_round_ctes()},
{vocab_ctes},
encoded AS (
    SELECT word, CAST(len(word) AS INTEGER) AS n_chars,
           CAST(len(syms) AS INTEGER) AS n_syms
    FROM v{BPE_ROUNDS}
),
psw AS (
    SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT source, unnest({_TOKS_FRAGMENT}) AS word FROM documents)
    GROUP BY source, word
),
agg AS (
    SELECT source,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(SUM(freq * n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(freq * n_syms) AS BIGINT) AS total_syms
    FROM psw JOIN encoded USING (word)
    GROUP BY source
)
SELECT source, n_tokens, total_chars, total_syms,
       CAST(ROUND(CAST(CAST(total_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS chars_per_token,
       CAST(ROUND(CAST(CAST(total_syms AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS syms_per_token,
       CAST(ROUND(CAST(CAST(total_syms AS DOUBLE) / CAST(total_chars AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS compression
FROM agg
ORDER BY source
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


def q_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance downsampling: keep each document with
    probability quality_score² (temperature-2 upweighting of the head —
    the DoReMi/DSIR-style knob a pretraining mix uses to trade corpus size
    for quality), decided by a CONTENT-KEYED md5 uniform so the sample is
    a pure function of the data: reproducible across engines, runs,
    partitionings, and re-runs at 100 TB without stored RNG state (the
    weighted_sample convention). Reports per-source before/after counts
    and mean quality — the 'did resampling actually shift the quality
    distribution' receipt.

    Scale: score, uniform, and the keep decision are scan-stage
    expressions; the only shuffle is the ≤|sources| rollup.
    """
    from candyspark.operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    score = quality_score("text")  # snapped 4dp inside
    h = char_hash32("text")
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    rows = d.select(
        "source",
        score.alias("q"),
        (u < score * score).alias("kept"),
    )
    qd = F.col("q").cast("decimal(18,4)")
    agg = rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(qd).alias("q_sum"),
        F.sum(F.when(F.col("kept"), qd).otherwise(F.lit(0).cast("decimal(18,4)")))
        .alias("q_kept_sum"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_kept",
        snap_round(
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("kept_rate"),
        snap_round(
            F.col("q_sum").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_quality_before"),
        F.when(
            F.col("n_kept") > 0,
            snap_round(
                F.col("q_kept_sum").cast("double") / F.col("n_kept").cast("double"),
                6,
            ),
        ).alias("mean_quality_kept"),  # NULL when a source keeps nothing
    ).orderBy("source")


IMPORTANCE_RESAMPLING_SQL = f"""
WITH t AS (SELECT doc_id, source, text, {_AN_TOKS} AS toks FROM documents),
rows_ AS (
    SELECT source,
           {_AN_QUALITY} AS q,
           ((CAST(CONCAT('0x', SUBSTRING(md5(text), 1, 8)) AS BIGINT) + 0.5)
            / 4294967296.0) < {_AN_QUALITY} * {_AN_QUALITY} AS kept
    FROM t
),
agg AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           SUM(CAST(q AS DECIMAL(18,4))) AS q_sum,
           SUM(CASE WHEN kept THEN CAST(q AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS q_kept_sum
    FROM rows_ GROUP BY source
)
SELECT source, n_docs, n_kept,
       CAST(ROUND(CAST(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS kept_rate,
       CAST(ROUND(CAST(CAST(q_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_quality_before,
       CASE WHEN n_kept > 0
            THEN CAST(ROUND(CAST(CAST(q_kept_sum AS DOUBLE) / CAST(n_kept AS DOUBLE)
                 AS DECIMAL(28,8)), 6) AS DOUBLE) END AS mean_quality_kept
FROM agg
ORDER BY source
"""


def q_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass estimate per source — the curator's answer
    to 'how much of this source's vocabulary have we NOT seen yet?':
    P(next token is a new type) ≈ N₁/N (the singleton share, Good 1953),
    with the simple-GT adjusted count r* = (r+1)·N_{r+1}/N_r for r = 1, 2
    as the smoothing diagnostic (r* ≪ r means the spectrum is steep and
    the source keeps minting types; language-model smoothing consumes
    exactly these numbers — kneser_ney_bigram's discount lives on the
    same spectrum). Completes the vocabulary-growth family: heaps_law
    extrapolates V(n), zipf_fit shapes the tail, THIS prices the unseen.

    Exactness: the whole statistic is a function of the integer frequency
    SPECTRUM (N_r = #types with frequency r); every input is an exact
    long and the two ratios snap at 6 dp. Scale: the same one
    tokenize+explode → (source, term) map-side-combined aggregate every
    text operator runs, then a spectrum rollup bounded by max frequency
    and a ≤|sources| pivot."""
    from candyspark.operators.text import tokens
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    spec = tf.groupBy("source", "f").agg(F.count(F.lit(1)).alias("nr"))
    per_src = spec.groupBy("source").agg(
        F.sum(F.col("f") * F.col("nr")).cast("long").alias("n_tokens"),
        F.sum("nr").cast("long").alias("n_types"),
        F.coalesce(F.sum(F.when(F.col("f") == 1, F.col("nr"))), F.lit(0))
        .cast("long").alias("n1"),
        F.coalesce(F.sum(F.when(F.col("f") == 2, F.col("nr"))), F.lit(0))
        .cast("long").alias("n2"),
        F.coalesce(F.sum(F.when(F.col("f") == 3, F.col("nr"))), F.lit(0))
        .cast("long").alias("n3"),
    )
    p_unseen = snap_round(
        F.col("n1").cast("double") / F.col("n_tokens").cast("double"), 6
    )
    r1_star = F.when(
        F.col("n1") > 0,
        snap_round(2.0 * F.col("n2").cast("double") / F.col("n1").cast("double"), 6),
    ).otherwise(F.lit(0.0))
    r2_star = F.when(
        F.col("n2") > 0,
        snap_round(3.0 * F.col("n3").cast("double") / F.col("n2").cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return per_src.select(
        "source", "n_tokens", "n_types", "n1", "n2",
        p_unseen.alias("p_unseen"),
        r1_star.alias("r1_star"),
        r2_star.alias("r2_star"),
    ).orderBy("source")


GOOD_TURING_MASS_SQL = f"""
WITH tf AS (
    SELECT source, term, COUNT(*) AS f
    FROM (SELECT source, unnest({_TOKS_FRAGMENT}) AS term FROM documents)
    GROUP BY source, term
),
spec AS (
    SELECT source, f, COUNT(*) AS nr FROM tf GROUP BY source, f
),
per_src AS (
    SELECT source,
           CAST(SUM(f * nr) AS BIGINT) AS n_tokens,
           CAST(SUM(nr) AS BIGINT) AS n_types,
           CAST(COALESCE(SUM(CASE WHEN f = 1 THEN nr END), 0) AS BIGINT) AS n1,
           CAST(COALESCE(SUM(CASE WHEN f = 2 THEN nr END), 0) AS BIGINT) AS n2,
           CAST(COALESCE(SUM(CASE WHEN f = 3 THEN nr END), 0) AS BIGINT) AS n3
    FROM spec GROUP BY source
)
SELECT source, n_tokens, n_types, n1, n2,
       CAST(ROUND(CAST(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_unseen,
       CASE WHEN n1 > 0 THEN
           CAST(ROUND(CAST(2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           AS DECIMAL(28,8)), 6) AS DOUBLE)
       ELSE 0.0 END AS r1_star,
       CASE WHEN n2 > 0 THEN
           CAST(ROUND(CAST(3.0 * CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE)
                           AS DECIMAL(28,8)), 6) AS DOUBLE)
       ELSE 0.0 END AS r2_star
FROM per_src
ORDER BY source
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — tokens-per-word under the BPE-ish
    pre-tokenizer (operators/text.bpe_token_count), the metric tokenizer
    reports lead with: fertility ≫ 1 for a language means the tokenizer
    fragments it (training cost and context budget inflate exactly by
    that factor), and chars-per-token is the compression read. The
    per-LANGUAGE split is the point — a multilingual corpus with an
    English-centric tokenizer shows the skew here first.

    Exactness: three integer sums per language (BPE tokens, whitespace
    words, characters) — the two ratios are single snapped divisions.
    Scale: pure scan-stage expressions (regexp_count / length — zero
    explode), one ≤|langs| aggregate; the cheapest query in the corpus
    family."""
    from candyspark.operators.text import bpe_token_count, ws_token_count
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(bpe_token_count("text")).cast("long").alias("n_bpe_tokens"),
        F.sum(ws_token_count("text")).cast("long").alias("n_words"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    fertility = snap_round(
        F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double"), 6
    )
    cpt = snap_round(
        F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double"), 6
    )
    return per.select(
        "lang", "n_docs", "n_bpe_tokens", "n_words", "n_chars",
        fertility.alias("fertility"),
        cpt.alias("chars_per_token"),
    ).orderBy("lang")


TOKENIZER_FERTILITY_SQL = r"""
WITH per AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))) AS BIGINT) AS n_words,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_bpe_tokens, n_words, n_chars,
       CAST(ROUND(CAST(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS fertility,
       CAST(ROUND(CAST(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS chars_per_token
FROM per
ORDER BY lang
"""


#: weighted-PageRank rounds of q_textrank_keywords and its unrolled oracle
TEXTRANK_ROUNDS = 6


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — weighted
    PageRank over the word co-occurrence graph: adjacent-token pairs
    (window 2) are edges weighted by corpus-wide co-occurrence count
    (threshold ≥ 2), and a random walk proportional to edge weight ranks
    the terms. The graph-centrality keyword signal next to the frequency
    family (tfidf_top_terms ranks by counts; TextRank ranks by who your
    neighbors are — a term co-occurring with other central terms wins
    even at moderate frequency).

    The walk IS operators/pagerank's ``pagerank`` with ``weight=w``:
    per-edge contributions rank·w/strength snap to DECIMAL(24,14) before
    the sum, rank updates snap at 12 dp, the walk is 6 fixed rounds, and
    the oracle below unrolls them (the pagerank_parts/LPA precedent).

    Scale: the pair explode is one tokenize pass (bigrams ≈ |tokens|),
    collapsed map-side into the VOCAB²-bounded (and threshold-pruned)
    edge relation; each round broadcasts the node-sized rank vector into
    the checkpointed edges (weighted degree riding on them) and shuffles
    only the per-term contribution sums.
    """
    from candyspark.operators.pagerank import pagerank
    from candyspark.operators.text import tokens
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    seq = d.filter(F.size(toks) >= 2).select(
        F.slice(toks, 1, F.size(toks) - 1).alias("a"),
        F.slice(toks, 2, F.size(toks) - 1).alias("b"),
    )
    pairs = (
        seq.select(F.explode(F.arrays_zip("a", "b")).alias("z"))
        .select(
            F.least("z.a", "z.b").alias("u"),
            F.greatest("z.a", "z.b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    edges = (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    und = edges.select(F.col("u").alias("s"), F.col("v").alias("t"), "w").unionByName(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"), "w")
    )
    ranks = pagerank(und, "s", "t", iterations=TEXTRANK_ROUNDS, weight=F.col("w"))
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(25)
        .select(F.col("node").alias("term"), "rank")
    )


def _textrank_sql() -> str:
    """Unrolled weighted-PageRank oracle for q_textrank_keywords — one
    (weighted-contribution-sum, rank-update) CTE pair per round; the
    rank·w/strength quotient is the identical left-associated IEEE
    expression both engines run on identical doubles, snapped to
    DECIMAL(24,14) before the order-free sum."""
    parts = [
        f"""toks AS (SELECT {_TOKS_FRAGMENT} AS t FROM documents)""",
        """pz AS (
    SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
    FROM toks WHERE len(t) >= 2
)""",
        """e0 AS (
    SELECT least(z[1], z[2]) AS u, greatest(z[1], z[2]) AS v, COUNT(*) AS w
    FROM pz WHERE z[1] <> z[2]
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
)""",
        """und AS (
    SELECT u AS s, v AS t, w FROM e0
    UNION ALL SELECT v AS s, u AS t, w FROM e0
)""",
        """st AS (SELECT s, SUM(w) AS strength FROM und GROUP BY s)""",
        """nodes AS (SELECT DISTINCT s AS node FROM und)""",
        """nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)""",
        """r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)""",
    ]
    for r in range(1, TEXTRANK_ROUNDS + 1):
        parts.append(
            f"""m{r} AS MATERIALIZED (
    SELECT und.t AS node,
           SUM(CAST(r.rank * und.w / st.strength AS DECIMAL(24,14))) AS in_mass
    FROM und
    JOIN r{r - 1} r ON und.s = r.node
    JOIN st ON st.s = und.s
    GROUP BY und.t
)"""
        )
        parts.append(
            f"""r{r} AS MATERIALIZED (
    SELECT nodes.node,
           CAST(ROUND(CAST((1.0 - 0.85) / nn.n
                    + 0.85 * COALESCE(CAST(m.in_mass AS DOUBLE), 0.0)
                AS DECIMAL(28,14)), 12) AS DOUBLE) AS rank
    FROM nodes CROSS JOIN nn LEFT JOIN m{r} m ON m.node = nodes.node
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT node AS term, rank
FROM r{TEXTRANK_ROUNDS}
ORDER BY rank DESC, term
LIMIT 25
"""


TEXTRANK_KEYWORDS_SQL = _textrank_sql()


def q_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 diversity per source (Li et al. 2016's
    generation-diversity metric applied to corpus curation): the share of
    unigram and bigram OCCURRENCES that are distinct types. Low distinct-2
    with ordinary distinct-1 is the template-farm fingerprint — the same
    word pairs recycled across documents — a complementary signal to
    repetition_signals (intra-doc) and yules_k (spectrum shape): this one
    is cross-doc and ORDER-sensitive (bigrams), which token-frequency
    views can't see.

    Exactness: four integer counts per source, two snapped ratios.
    Scale: one tokenize pass feeds both grains — the bigram explode is the
    textrank adjacency machinery (≈|tokens| rows), collapsed map-side into
    the vocab²-bounded type relation before any exchange."""
    from candyspark.operators.text import tokens
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    uni = (
        d.select("source", F.explode(toks).alias("g"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unigrams"),
            F.countDistinct("g").cast("long").alias("v_unigrams"),
        )
    )
    seq = d.filter(F.size(toks) >= 2).select(
        "source",
        F.slice(toks, 1, F.size(toks) - 1).alias("a"),
        F.slice(toks, 2, F.size(toks) - 1).alias("b"),
    )
    bi = (
        seq.select("source", F.explode(F.arrays_zip("a", "b")).alias("z"))
        .select("source", F.concat_ws(" ", "z.a", "z.b").alias("g"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.countDistinct("g").cast("long").alias("v_bigrams"),
        )
    )
    return (
        uni.join(bi, "source")
        .select(
            "source",
            "n_unigrams",
            "v_unigrams",
            "n_bigrams",
            "v_bigrams",
            snap_round(
                F.col("v_unigrams").cast("double") / F.col("n_unigrams").cast("double"),
                6,
            ).alias("distinct1"),
            snap_round(
                F.col("v_bigrams").cast("double") / F.col("n_bigrams").cast("double"),
                6,
            ).alias("distinct2"),
        )
        .orderBy("source")
    )


DISTINCT_NGRAM_DIVERSITY_SQL = f"""
WITH toks AS (SELECT source, {_TOKS_FRAGMENT} AS t FROM documents),
uni AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_unigrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS v_unigrams
    FROM (SELECT source, unnest(t) AS g FROM toks)
    GROUP BY source
),
bi AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS v_bigrams
    FROM (
        SELECT source, concat(z[1], ' ', z[2]) AS g
        FROM (SELECT source, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
              FROM toks WHERE len(t) >= 2)
    )
    GROUP BY source
)
SELECT uni.source, n_unigrams, v_unigrams, n_bigrams, v_bigrams,
       CAST(ROUND(CAST(CAST(v_unigrams AS DOUBLE) / CAST(n_unigrams AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS distinct1,
       CAST(ROUND(CAST(CAST(v_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS distinct2
FROM uni JOIN bi ON uni.source = bi.source
ORDER BY uni.source
"""


def q_length_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-decile quality profile — the curator's first diagonal read:
    docs bucketed into 10 equal-count length deciles (ntile over the
    (n_chars, doc_id) total order), each reporting mean length, mean
    quality score, and English share. Short-doc deciles scoring low
    quality is the expected C4 shape; a HIGH-length low-quality decile is
    the template-farm signature worth triaging. Composes the shared
    quality_score with the boundary discipline rfm_segments established
    (exact ntile here, approx-quantile cutoff dim at true 100-TB
    cardinality — documented there).

    Exactness: quality is 4-dp snapped at the scan, so per-decile sums
    are exact decimals; n_chars sums are integers; each mean is one
    snapped division."""
    from candyspark.operators.text import quality_score
    from candyspark.sources.readers import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    w = Window.orderBy("n_chars", "doc_id")
    rows = d.select(
        F.ntile(10).over(w).alias("decile"),
        F.col("n_chars"),
        quality_score("text").cast("decimal(18,4)").alias("q"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    per = rows.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.sum("q").alias("q_sum"),
        F.sum("is_en").cast("long").alias("n_en"),
    )
    n = F.col("n_docs").cast("double")
    return per.select(
        F.col("decile").cast("int").alias("decile"),
        "n_docs",
        snap_round(F.col("chars_sum").cast("double") / n, 2).alias("mean_chars"),
        snap_round(F.col("q_sum").cast("double") / n, 6).alias("mean_quality"),
        snap_round(F.col("n_en").cast("double") / n, 6).alias("en_share"),
    ).orderBy("decile")


LENGTH_QUALITY_PROFILE_SQL = f"""
WITH t AS (SELECT doc_id, text, lang, n_chars, {_TOKS_FRAGMENT} AS toks FROM documents),
rows_q AS (
    SELECT NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile,
           n_chars,
           CAST({_AN_QUALITY} AS DECIMAL(18,4)) AS q,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
    FROM t
),
per AS (
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
           SUM(q) AS q_sum,
           CAST(SUM(is_en) AS BIGINT) AS n_en
    FROM rows_q GROUP BY decile
)
SELECT CAST(decile AS INTEGER) AS decile, n_docs,
       CAST(ROUND(CAST(CAST(chars_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS DECIMAL(28,8)), 2) AS DOUBLE) AS mean_chars,
       CAST(ROUND(CAST(CAST(q_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_quality,
       CAST(ROUND(CAST(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS en_share
FROM per
ORDER BY decile
"""


_RAKE_STOPWORDS = (
    "the a an and or of to in on for with is are was were be as at by it "
    "this that from not but have has had will would can could"
).split()


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus — the
    degree/frequency keyword scorer that complements textrank_keywords
    (co-occurrence PageRank) and tfidf_top_terms (corpus contrast): RAKE
    rewards words that appear inside LONG multi-word phrases, which
    surfaces technical noun phrases single-word statistics miss.

    Candidate phrases are maximal runs of non-stopword tokens (capped at
    4 words, the standard guard): posexplode keeps token positions,
    phrase ids are a cumulative stopword count per document (one window
    keyed by doc_id), and the phrase text reassembles with an
    array_sort-by-position — deterministic, never a collect_list order
    gamble. Word score = degree/frequency where degree sums the lengths
    of containing phrases; phrase score sums its word scores (exact
    integer degrees, one snapped division per word, decimal phrase sums).
    Top-15 is a TakeOrdered on (score, phrase) — never a global sort.

    Scale: every shuffle is keyed (doc for phrase assembly, word for
    stats, phrase text for dedup); phrase relation ≈ token relation in
    size, so the whole plan is ~3 keyed passes over the token stream.
    """
    from candyspark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "word")
    ).select(
        "doc_id",
        "pos",
        "word",
        F.col("word").isin(*_RAKE_STOPWORDS).alias("is_stop"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.select(
        "doc_id",
        "pos",
        "word",
        "is_stop",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wd).alias("phrase_id"),
    ).filter(~F.col("is_stop"))
    phrases = (
        marked.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= 4)
        .localCheckpoint()  # consumers: word stats + phrase scoring
    )
    words = phrases.select(
        "doc_id", "phrase_id", "plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    wstats = (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select(
            "word",
            snap_round(
                F.col("deg").cast("double") / F.col("freq").cast("double"), 6
            )
            .cast("decimal(14,6)")
            .alias("wscore"),
        )
    )
    scored = (
        words.join(wstats, "word")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("wscore").alias("pscore"))
        .join(phrases, ["doc_id", "phrase_id"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occurrences"),
            F.max(F.col("pscore").cast("double")).alias("score_raw"),
            F.max("plen").alias("n_words"),
        )
    )
    return (
        scored.select(
            "phrase",
            "n_words",
            "occurrences",
            snap_round(F.col("score_raw"), 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(15)
    )


_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)

RAKE_KEYWORDS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_FRAGMENT} AS toks FROM documents),
tok AS (
    SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS word
    FROM t
),
marked AS (
    SELECT doc_id, pos, word,
           SUM(CASE WHEN word IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
    FROM tok
    QUALIFY word NOT IN ({_RAKE_STOP_SQL})
),
phrases AS (
    SELECT doc_id, phrase_id,
           string_agg(word, ' ' ORDER BY pos) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS plen
    FROM marked
    GROUP BY doc_id, phrase_id
    HAVING COUNT(*) <= 4
),
words AS (
    SELECT doc_id, phrase_id, plen, unnest(string_split(phrase, ' ')) AS word
    FROM phrases
),
wstats AS (
    SELECT word,
           CAST(ROUND(CAST(
               CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DECIMAL(14,6)) AS wscore
    FROM words
    GROUP BY word
),
pscored AS (
    SELECT doc_id, phrase_id, SUM(wscore) AS pscore
    FROM words JOIN wstats USING (word)
    GROUP BY doc_id, phrase_id
),
scored AS (
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS occurrences,
           MAX(CAST(pscore AS DOUBLE)) AS score_raw,
           MAX(plen) AS n_words
    FROM pscored JOIN phrases USING (doc_id, phrase_id)
    GROUP BY phrase
)
SELECT phrase, n_words, occurrences,
       CAST(ROUND(CAST(score_raw AS DECIMAL(28,8)), 6) AS DOUBLE) AS rake_score
FROM scored
ORDER BY rake_score DESC, phrase
LIMIT 15
"""


def q_kish_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the quality-weighted corpus mix:
    when documents carry importance weights (quality² — the
    q_importance_resampling knob), n weighted documents are worth only
    ESS = (Σw)²/Σw² unweighted ones, and deff = 1 + cv²(w) is the
    variance price of the weighting. THE receipt a weighted-mixture
    pretraining run publishes next to its token counts: an efficiency
    near 1 says the weights are mild; near 0 says a few documents
    dominate the mixture.

    Weights are the snapped 4-dp quality scores squared — exact
    DECIMAL(18,8) per document, so Σw and Σw² are exact decimal sums and
    both engines compute the identical ESS from identical integers-in-
    disguise. Per-source rows plus the '__corpus__' rollup.

    At 100 TB: scan-stage weight expression, one map-side-combined
    ≤|sources| aggregate. Nothing else moves.
    """
    from candyspark.operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    w = (
        (quality_score("text").cast("decimal(9,4)") * quality_score("text").cast("decimal(9,4)"))
        .cast("decimal(18,8)")
    )
    rows = d.select("source", w.alias("w"))
    per_source = rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("decimal(38,8)").alias("sw"),
        F.sum(
            (F.col("w").cast("decimal(19,8)") * F.col("w").cast("decimal(19,8)"))
        )
        .cast("decimal(38,16)")
        .alias("sw2"),
    )
    corpus = rows.agg(
        F.lit("__corpus__").alias("source"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("decimal(38,8)").alias("sw"),
        F.sum(
            (F.col("w").cast("decimal(19,8)") * F.col("w").cast("decimal(19,8)"))
        )
        .cast("decimal(38,16)")
        .alias("sw2"),
    )
    both = per_source.unionByName(corpus)
    ess = snap_round(
        F.col("sw").cast("double")
        * F.col("sw").cast("double")
        / F.col("sw2").cast("double"),
        4,
    )
    return both.select(
        "source",
        "n_docs",
        ess.alias("ess"),
        snap_round(ess / F.col("n_docs").cast("double"), 6).alias("efficiency"),
        snap_round(F.col("n_docs").cast("double") / ess, 6).alias("deff"),
    )


KISH_ESS_SQL = """
WITH toked AS (
    SELECT source, text, __TOKS__ AS toks FROM documents
),
rows_ AS (
    SELECT source,
           CAST(CAST(__QS__ AS DECIMAL(9,4)) * CAST(__QS__ AS DECIMAL(9,4))
               AS DECIMAL(18,8)) AS w
    FROM toked
),
per AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS DECIMAL(38,8)) AS sw,
           CAST(SUM(CAST(w AS DECIMAL(19,8)) * CAST(w AS DECIMAL(19,8)))
               AS DECIMAL(38,16)) AS sw2
    FROM rows_ GROUP BY 1
    UNION ALL
    SELECT '__corpus__', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(w) AS DECIMAL(38,8)),
           CAST(SUM(CAST(w AS DECIMAL(19,8)) * CAST(w AS DECIMAL(19,8)))
               AS DECIMAL(38,16))
    FROM rows_
)
SELECT source, n_docs,
       CAST(ROUND(CAST(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
           / CAST(sw2 AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE) AS ess,
       CAST(ROUND(CAST(
           CAST(ROUND(CAST(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
               / CAST(sw2 AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE) / n_docs
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS efficiency,
       CAST(ROUND(CAST(
           n_docs / CAST(ROUND(CAST(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
               / CAST(sw2 AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS deff
FROM per
""".replace("__QS__", _AN_QUALITY).replace("__TOKS__", _TOKS_FRAGMENT)


def q_code_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detector - the lang_id sibling a pretraining corpus
    needs before routing documents to code or text pipelines: a
    deterministic score from four scan-stage signals (brace/bracket
    density, semicolon + assignment density, code-keyword hits, indented
    line share), each snapped and capped, weighted into [0, 1]. Reports
    per-source code share and mean score - the mixture read a dataset
    card publishes.

    Pure regexp_count/length integer algebra until the final weighted
    sum (one snap); no tokenizer, no UDF. The threshold (0.5) and
    weights are fixed literals; the planted tests pin a code blob
    scoring high and prose scoring low.

    Scale: scan-stage expressions, one <=|sources| rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    braces = F.regexp_count("text", F.lit(r"[{}\[\]()]")).cast("double")
    stmts = F.regexp_count("text", F.lit(r"[;=]")).cast("double")
    kw = F.regexp_count(
        "text",
        F.lit(r"(def |class |return |import |function |var |const |if \()"),
    ).cast("double")
    lines = F.regexp_count("text", F.lit(r"\n")).cast("double") + 1.0
    indented = F.regexp_count("text", F.lit(r"\n[ \t]{2,}")).cast("double")
    score = snap_round(
        0.3 * F.least(braces * 40.0 / n_chars, F.lit(1.0))
        + 0.25 * F.least(stmts * 40.0 / n_chars, F.lit(1.0))
        + 0.25 * F.least(kw * 10.0 / lines, F.lit(1.0))
        + 0.2 * F.least(indented / lines * 2.0, F.lit(1.0)),
        4,
    )
    rows = d.select("source", score.alias("s"))
    per_source = rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("s") > 0.5, 1).otherwise(0)).cast("long").alias("n_code"),
        F.sum(F.col("s").cast("decimal(10,4)")).alias("score_sum"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_code",
        snap_round(
            F.col("n_code").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("code_share"),
        snap_round(
            F.col("score_sum").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_code_score"),
    ).orderBy("source")


CODE_DETECTOR_SQL = r"""
WITH scored AS (
    SELECT source,
           CAST(ROUND(CAST(
               0.3 * LEAST(CAST(len(regexp_extract_all(text, '[{}\[\]()]')) AS DOUBLE)
                   * 40.0 / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 1.0)
             + 0.25 * LEAST(CAST(len(regexp_extract_all(text, '[;=]')) AS DOUBLE)
                   * 40.0 / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 1.0)
             + 0.25 * LEAST(CAST(len(regexp_extract_all(text,
                   '(def |class |return |import |function |var |const |if \()'))
                   AS DOUBLE) * 10.0
                   / (CAST(len(regexp_extract_all(text, '\n')) AS DOUBLE) + 1.0), 1.0)
             + 0.2 * LEAST(CAST(len(regexp_extract_all(text, '\n[ \t]{2,}')) AS DOUBLE)
                   / (CAST(len(regexp_extract_all(text, '\n')) AS DOUBLE) + 1.0) * 2.0, 1.0)
               AS DECIMAL(28,8)), 4) AS DOUBLE) AS s
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
       CAST(ROUND(CAST(CAST(SUM(CASE WHEN s > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS DECIMAL(28,8)), 6) AS DOUBLE) AS code_share,
       CAST(ROUND(CAST(CAST(SUM(CAST(s AS DECIMAL(10,4))) AS DOUBLE)
           / COUNT(*) AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_code_score
FROM scored
GROUP BY source
ORDER BY source
"""


# --- round 6: shard assignment + curriculum staging ------------------------


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding audit (round 6): every document maps
    to shard = content_hash % 64 — a pure function of text, like
    dataset_split's bucket, so re-running the pipeline (or re-reading a
    partially written output) lands every doc in the same shard with no
    assignment table to ship. The query is the audit a 100-TB writer logs
    before committing a layout: per-shard doc/char mass plus each shard's
    load factor vs the ideal (total/64). Hash sharding bounds the expected
    skew at O(1/sqrt(docs_per_shard)) without any sort or range-partition
    step — the one-scan, one-64-cell-aggregate plan shape; a greedy
    size-balanced packer would serialize on a total order for marginal
    balance gains (the pack_sequences docstring's bin-packing trade)."""
    d = load_table(spark, sf_dir, "documents")
    shard = F.pmod(char_hash32(F.col("text")), F.lit(64))
    per = (
        d.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    whole = Window.partitionBy()
    return (
        per.withColumn(
            "load_factor",
            snap_round(
                F.col("total_chars").cast("double")
                * 64.0
                / F.sum("total_chars").over(whole).cast("double"),
                6,
            ),
        )
        .select("shard", "n_docs", "total_chars", "load_factor")
        .orderBy("shard")
    )


SHARD_ASSIGNMENT_SQL = """
WITH per AS (
    SELECT CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 64 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
)
SELECT shard, n_docs, total_chars,
       CAST(ROUND(CAST(
           CAST(total_chars AS DOUBLE) * 64.0
           / CAST(SUM(total_chars) OVER () AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS load_factor
FROM per
ORDER BY shard
"""


def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging audit (round 6): order the corpus easy→hard and
    report the 4 stages a curriculum schedule would feed the trainer.
    Difficulty here is the deterministic text-statistics proxy a pipeline
    can compute without a model: mean word length (longer words ≈ harder
    text), tie-broken by doc length. Stage = quartile of the difficulty
    rank — computed with ntile over the scored relation; the output is
    stage-grain (4 rows: doc/char mass + difficulty band edges), which is
    what the schedule actually consumes — the per-doc assignment is the
    same expression without the rollup. One scan + one rank exchange; at
    100 TB the ntile window is the sort-once-per-epoch cost a curriculum
    inherently pays, and the scored relation it sorts is (id, score) —
    never the text."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # mean word length = (chars - spaces) / words on the split relation
    n_words = F.size(toks).cast("double")
    mwl = snap_round(
        (F.col("n_chars").cast("double") - (n_words - 1)) / n_words, 6
    )
    scored = d.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), mwl.alias("difficulty")
    )
    staged = scored.withColumn(
        "stage",
        F.ntile(4).over(Window.orderBy(F.asc("difficulty"), F.asc("doc_id"))),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("difficulty").alias("min_difficulty"),
            F.max("difficulty").alias("max_difficulty"),
        )
        .orderBy("stage")
    )


CURRICULUM_STAGES_SQL = """
WITH scored AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(ROUND(CAST(
               (CAST(n_chars AS DOUBLE)
                - (CAST(length(string_split(text, ' ')) AS DOUBLE) - 1))
               / CAST(length(string_split(text, ' ')) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS difficulty
    FROM documents
),
staged AS (
    SELECT *, NTILE(4) OVER (ORDER BY difficulty ASC, doc_id ASC) AS stage
    FROM scored
)
SELECT CAST(stage AS INT) AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(difficulty) AS min_difficulty,
       MAX(difficulty) AS max_difficulty
FROM staged
GROUP BY stage
ORDER BY stage
"""
