"""Extension operator queries (SURVEY.md §2.13, M5): dedup, similarity
search, text analysis, multimodal plumbing, event-time windows — the
LLM-data-pipeline surface, each with a DuckDB oracle mirror where SQL can
express it (non-expressible: the mapInPandas multimodal kernel and the
LSH-ANN variant, which get rows-only checks plus dedicated tests).

Every mirror reproduces the Spark expression bit-for-bit: same tokenizer
regex, same md5-derived hashes, same sequential double folds, same decimal
snapping before rounds (see plans/relational.py on why).
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.operators import dedup as D
from candyspark.operators import similarity as S
from candyspark.functions.numeric import snap_round
from candyspark.operators import text as X
from candyspark.operators.multimodal import binary_metadata, with_binary_payload
from candyspark.sources.readers import fan_out, load_table
from candyspark.streaming import events as E
from candyspark.streaming.stream import (
    WATERMARK,
    drain,
    merged_table_path,
    read_events_stream,
    run_foreach_batch_merge,
    streaming_click_error_join,
    streaming_cms_cells,
    streaming_dedup,
    streaming_dedup_within_watermark,
    streaming_static_enrich,
    streaming_tumbling_agg,
)

# --- shared SQL fragments (the DuckDB mirrors of operators/text.py) ---------

_TOKS = r"list_filter(string_split_regex(lower(text), '\W+'), x -> x != '')"
_HASH32 = "CAST(concat('0x', substr(md5({s}), 1, 8)) AS BIGINT)"
_EN = "('the','a','of','and','to','in','is','it','that','for')"
_DE = "('der','die','das','und','ist','ein','zu','den','mit','nicht')"
_FR = "('le','la','les','et','est','un','une','des','dans','que')"
_ES = "('el','la','los','las','y','es','un','una','de','en')"

# distinct word-3-gram shingles (mirror of text.word_shingles(k=3))
_SHINGLES = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) "
    "ELSE [array_to_string(toks, ' ')] END)"
)


def _count_in_sql(words: str) -> str:
    return (
        "COALESCE(list_sum(list_transform(toks, w -> "
        f"CASE WHEN w IN {words} THEN 1 ELSE 0 END)), 0)"
    )


# --- text analysis ----------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: token count, stopword ratio, punctuation density,
    mean token length, composite quality score — all JVM-side expressions
    (operators/text.py), one scan, no data-dependent shuffle (``fan_out``
    round-robins small-file scans so the per-row CPU parallelizes)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = X.tokens("text")
    n = F.size(toks)
    total_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    sw = X.stopword_count("text")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        snap_round(
            F.when(n > 0, sw.cast("double") / n).otherwise(F.lit(0.0)), 4
        ).alias("stopword_ratio"),
        snap_round(X.punct_density("text"), 4).alias("punct_density"),
        snap_round(
            F.when(n > 0, total_len.cast("double") / n).otherwise(F.lit(0.0)), 4
        ).alias("avg_token_len"),
        X.quality_score("text").alias("quality_score"),
    )


TEXT_STATS_SQL = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       CAST(ROUND(CAST(CASE WHEN len(toks) > 0
             THEN CAST({_count_in_sql(_EN)} AS DOUBLE) / len(toks) ELSE 0.0 END
             AS DECIMAL(28,8)), 4) AS DOUBLE) AS stopword_ratio,
       CAST(ROUND(CAST(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS punct_density,
       CAST(ROUND(CAST(CASE WHEN len(toks) > 0
             THEN CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE) / len(toks)
             ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS avg_token_len,
       CAST(ROUND(CAST(
             0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
           + 0.3 * (1.0 - least((CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END) * 10.0, 1.0))
           + 0.3 * least((CASE WHEN len(toks) > 0
                 THEN CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE) / len(toks)
                 ELSE 0.0 END) / 8.0, 1.0)
             AS DECIMAL(28,8)), 4) AS DOUBLE) AS quality_score
FROM t
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language guess (stopword-hit argmax, fixed tie order) next
    to the labeled lang — a deterministic lang-ID operator shape."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", X.lang_guess("text").alias("lang_guess"))


LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang,
             {_count_in_sql(_EN)} AS s_en, {_count_in_sql(_DE)} AS s_de,
             {_count_in_sql(_FR)} AS s_fr, {_count_in_sql(_ES)} AS s_es
      FROM t)
SELECT doc_id, lang,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
            WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'unknown' END AS lang_guess
FROM s
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: exact md5 of normalized text + shift-robust
    rolling min-hash over character 16-grams (winnowing-style)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        X.fingerprint_md5("text").alias("fp_md5"),
        X.rolling_min_hash("text").alias("fp_rolling"),
    )


DOC_FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, array_to_string({_TOKS}, ' ') AS norm FROM documents)
SELECT doc_id,
       md5(norm) AS fp_md5,
       list_min(list_transform(range(1, greatest(length(norm) - {X.ROLLING_GRAM - 1}, 1) + 1),
                i -> {_HASH32.format(s=f"substr(norm, i, {X.ROLLING_GRAM})")})) AS fp_rolling
FROM t
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-cost columns: whitespace tokens, BPE-ish regex tokens, chars —
    the per-document LLM budget estimators, all scan-stage expressions."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        X.ws_token_count("text").alias("ws_tokens"),
        X.bpe_token_count("text").alias("bpe_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )


TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


# --- dedup ------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(d, "text", "doc_id")


DEDUP_EXACT_SQL = f"""
SELECT md5(array_to_string({_TOKS}, ' ')) AS content_key,
       MIN(doc_id) AS kept_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY 1
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked (by lang) word-3-gram Jaccard pairs ≥ 0.6, via the
    INVERTED-INDEX pair generator (round 5 — previously the all-pairs
    within-block verifier at 8.6 s/sf0.1): only shingle-sharing pairs
    materialize, |∩| by posting-join count, |∪| by inclusion-exclusion;
    identical output to the all-pairs form the oracle runs (zero-overlap
    pairs have J = 0). The posting-list bound, not |block|², is what
    survives a low-cardinality block key at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, "text", "doc_id", "lang")


DEDUP_NGRAM_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_SHINGLES} AS sh FROM t)
SELECT * FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(ROUND(CAST(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                 THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(a.sh || b.sh))
                 ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard_sim
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
) WHERE jaccard_sim >= 0.6
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands) candidate pairs verified at Jaccard ≥ 0.5."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, "text", "doc_id")


from candyspark.operators.dedup import perm_consts as _perm_consts  # noqa: E402

# the md5-derived (a_i, b_i) constants as SQL list literals — the oracle
# uses the exact integers the engine embeds (operators/dedup.perm_consts)
_MINHASH_A = "[" + ", ".join(str(a) for a, _ in _perm_consts(D.NUM_HASHES)) + "]"
_MINHASH_B = "[" + ", ".join(str(b) for _, b in _perm_consts(D.NUM_HASHES)) + "]"

# the LSH candidate stage (tokenize → shingle → hash-once → 32-slot
# signature → 8 banded keys → colliding id pairs), shared by the Jaccard
# and containment verifiers — mirror of operators/dedup.minhash_candidate_shingles
_MINHASH_CAND_CTES = f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
hh AS (SELECT doc_id,
              list_transform(sh, sh_el -> {_HASH32.format(s="sh_el")} % 2147483647) AS shh
       FROM s),
sig AS (SELECT doc_id,
               list_transform(range(0, {D.NUM_HASHES}), i -> list_min(list_transform(shh,
                   h -> ({_MINHASH_A}[CAST(i + 1 AS INTEGER)] * h
                         + {_MINHASH_B}[CAST(i + 1 AS INTEGER)]) % 2147483647))) AS sig
        FROM hh),
bands AS (SELECT doc_id, r.b AS band,
                 md5(array_to_string(list_transform(list_slice(sig, r.b * 4 + 1, r.b * 4 + 4),
                     h -> CAST(h AS VARCHAR)), ',')) AS band_key
          FROM sig, range(0, {D.BANDS}) r(b)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)"""

DEDUP_MINHASH_SQL = f"""
WITH {_MINHASH_CAND_CTES}
SELECT * FROM (
    SELECT doc_a, doc_b,
           CAST(ROUND(CAST(CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                 THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(sa.sh || sb.sh))
                 ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard_sim
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
) WHERE jaccard_sim >= 0.5
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL crawl dedup (round 6): dedupe an incoming batch against
    the EXISTING corpus only — the production shape for continuous
    ingestion, where re-pairing the existing corpus with itself every
    batch would be quadratic in corpus age. Split = content hash % 10
    (buckets 0–7 'already ingested', 8–9 'incoming' — the dataset_split
    discipline, so the partition is re-derivable). The band join is
    ASYMMETRIC: incoming band keys probe existing band keys, so candidate
    volume is Θ(|incoming| · bucket occupancy), independent of the
    existing×existing pair mass the self-join form pays. Verified at
    Jaccard ≥ 0.5 on the shared shingle relation; output is the per-lang
    ingestion audit (incoming docs, how many are near-dups of the
    existing corpus, dup rate) a pipeline logs per batch."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tagged = d.select(
        "doc_id",
        "lang",
        "text",
        (F.pmod(X.char_hash32(F.col("text")), F.lit(10)) < 8).alias("is_existing"),
    )
    sh_tbl = tagged.select(
        "doc_id", "is_existing", D.word_shingles("text", 3).alias("sh")
    )
    sigs = tagged.select(
        "doc_id",
        "is_existing",
        D.minhash_signature(D.shingle_hashes("text")).alias("sig"),
    )
    bands = sigs.select(
        "doc_id",
        "is_existing",
        F.explode(D.band_keys(F.col("sig"), D.BANDS)).alias("bk"),
    ).select("doc_id", "is_existing", "bk.band", "bk.band_key")
    inc = bands.filter(~F.col("is_existing")).select(
        F.col("doc_id").alias("inc_id"), "band", "band_key"
    )
    ex = bands.filter(F.col("is_existing")).select(
        F.col("doc_id").alias("ex_id"), "band", "band_key"
    )
    cand = inc.join(ex, ["band", "band_key"]).select("inc_id", "ex_id").distinct()
    sh_inc = sh_tbl.select(F.col("doc_id").alias("inc_id"), F.col("sh").alias("sh_i"))
    sh_ex = sh_tbl.select(F.col("doc_id").alias("ex_id"), F.col("sh").alias("sh_e"))
    dup_ids = (
        cand.join(sh_inc, "inc_id")
        .join(sh_ex, "ex_id")
        .filter(D.jaccard(F.col("sh_i"), F.col("sh_e")) >= 0.5)
        .select("inc_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        tagged.filter(~F.col("is_existing"))
        .join(dup_ids, tagged.doc_id == dup_ids.inc_id, "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incoming"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dup"),
        )
        .select(
            "lang",
            "n_incoming",
            "n_dup",
            snap_round(F.col("n_dup") / F.col("n_incoming"), 6).alias("dup_rate"),
        )
        .orderBy("lang")
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks,
                  {_HASH32.format(s="text")} % 10 < 8 AS is_existing
           FROM documents),
s AS (SELECT doc_id, lang, is_existing, {_SHINGLES} AS sh FROM t),
hh AS (SELECT doc_id, is_existing,
              list_transform(sh, sh_el -> {_HASH32.format(s="sh_el")} % 2147483647) AS shh
       FROM s),
sig AS (SELECT doc_id, is_existing,
               list_transform(range(0, {D.NUM_HASHES}), i -> list_min(list_transform(shh,
                   h -> ({_MINHASH_A}[CAST(i + 1 AS INTEGER)] * h
                         + {_MINHASH_B}[CAST(i + 1 AS INTEGER)]) % 2147483647))) AS sig
        FROM hh),
bands AS (SELECT doc_id, is_existing, r.b AS band,
                 md5(array_to_string(list_transform(list_slice(sig, r.b * 4 + 1, r.b * 4 + 4),
                     h -> CAST(h AS VARCHAR)), ',')) AS band_key
          FROM sig, range(0, {D.BANDS}) r(b)),
cand AS (SELECT DISTINCT x.doc_id AS inc_id, y.doc_id AS ex_id
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_key = y.band_key
         WHERE NOT x.is_existing AND y.is_existing),
dups AS (
    SELECT DISTINCT inc_id FROM cand
    JOIN s sa ON sa.doc_id = cand.inc_id
    JOIN s sb ON sb.doc_id = cand.ex_id
    WHERE CAST(ROUND(CAST(CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
          THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(sa.sh || sb.sh))
          ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) >= 0.5
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(CASE WHEN d.inc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup,
       CAST(ROUND(CAST(
           CAST(SUM(CASE WHEN d.inc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS DECIMAL(28,8)), 6) AS DOUBLE) AS dup_rate
FROM s LEFT JOIN dups d ON s.doc_id = d.inc_id
WHERE NOT s.is_existing
GROUP BY lang
ORDER BY lang
"""


def q_cross_source_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication audit: the MinHash-LSH verified
    pairs (dedup_minhash's exact machinery) rolled up per unordered
    SOURCE pair — which feeds copy which? The curation question the
    pair-level family doesn't answer: within-source duplication is
    boilerplate, CROSS-source duplication is syndication/scraping and
    inflates a mixture's effective weight for that content. Reports
    pair counts and mean verified Jaccard per source pair (within-source
    pairs included as the source==source diagonal for contrast).

    Scale posture inherits dedup_minhash's: banded signature self-join,
    never all-pairs; the source rollup adds one keyed join of the
    (tiny) verified-pair relation back to doc sources plus one bounded
    ≤|sources|² aggregate."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(d, "text", "doc_id")
    src = d.select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("source", "src_a"), pairs.doc_a == src.doc_id)
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "src_b").withColumnRenamed(
                "doc_id", "doc_id_b"
            ),
            F.col("doc_b") == F.col("doc_id_b"),
        )
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            "jaccard_sim",
        )
    )
    return (
        labeled.groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            snap_round(
                F.sum(
                    F.round(F.col("jaccard_sim").cast("decimal(28,8)"), 8).cast(
                        "decimal(28,8)"
                    )
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mean_jaccard"),
        )
        .orderBy("source_x", "source_y")
    )


CROSS_SOURCE_NEAR_DUP_SQL = f"""
WITH {_MINHASH_CAND_CTES},
verified AS (
    SELECT * FROM (
        SELECT doc_a, doc_b,
               CAST(ROUND(CAST(CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                     THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                          / len(list_distinct(sa.sh || sb.sh))
                     ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard_sim
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b
    ) WHERE jaccard_sim >= 0.5
)
SELECT LEAST(da.source, db.source) AS source_x,
       GREATEST(da.source, db.source) AS source_y,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(ROUND(CAST(jaccard_sim AS DECIMAL(28,8)), 8)
                AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS mean_jaccard
FROM verified
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment on the MinHash-LSH candidates: the
    doc-inside-doc / boilerplate-superset detector Jaccard under-scores
    (operators/dedup.containment_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, "text", "doc_id")


CONTAINMENT_PAIRS_SQL = f"""
WITH {_MINHASH_CAND_CTES}
SELECT * FROM (
    SELECT doc_a, doc_b,
           CAST(ROUND(CAST(CASE WHEN len(list_distinct(sa.sh)) > 0
                 THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(sa.sh))
                 ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS containment_a,
           CAST(ROUND(CAST(CASE WHEN len(list_distinct(sb.sh)) > 0
                 THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(sb.sh))
                 ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS containment_b,
           CAST(ROUND(CAST(CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                 THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(sa.sh || sb.sh))
                 ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard_sim
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
) WHERE GREATEST(containment_a, containment_b) >= 0.5
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # stage the token hashes as their own projection so the md5 pass runs
    # once per row, not once per digest bit (see operators/dedup.simhash32)
    hashed = d.select("doc_id", D.token_hashes("text").alias("th"))
    return hashed.select("doc_id", D.simhash32(F.col("th")).alias("simhash"))


SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id, list_transform({_TOKS}, tok -> {_HASH32.format(s="tok")}) AS th
           FROM documents)
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(range(0, 32), j ->
           CASE WHEN COALESCE(list_sum(list_transform(th,
                    h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT) AS simhash
FROM t
"""


# --- similarity search ------------------------------------------------------

_COS_SQL = (
    "CAST(ROUND(CAST("
    "list_reduce(list_transform(range(1, 65), i -> q_vec[i] * c_vec[i]), (a, b) -> a + b)"
    " / (sqrt(list_reduce(list_transform(range(1, 65), i -> q_vec[i] * q_vec[i]), (a, b) -> a + b))"
    " * sqrt(list_reduce(list_transform(range(1, 65), i -> c_vec[i] * c_vec[i]), (a, b) -> a + b)))"
    " AS DECIMAL(28,10)), 6) AS DOUBLE)"
)


def q_similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 5 (the ANN ground
    truth baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e, e.filter(F.col("vec_id") < 5))


SIMILARITY_BRUTEFORCE_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS q_vec FROM e WHERE vec_id < 5),
scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL.replace("c_vec", "e.v")} AS cosine_sim
    FROM e CROSS JOIN q
    WHERE e.vec_id != query_id
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rank
    FROM scored
) WHERE rank <= {S.TOPK}
"""


def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10. Fully deterministic (md5-derived
    hyperplanes, no shipped state), so the WHOLE pipeline — signatures,
    multi-table candidate union, cosine, rank — is hash-checked against
    the DuckDB oracle below; recall vs. the brute-force baseline is
    additionally pinned in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.lsh_bucketed_topk(e, e.filter(F.col("vec_id") < 5))


# plane component p·d for table t: pseudo-uniform in [-1, 1] from md5 —
# the SQL twin of operators/similarity._plane_components
_PLANE = (
    "((CAST(concat('0x', substr(md5(concat(CAST({t} AS VARCHAR), ':', "
    "CAST(p AS VARCHAR), ':', CAST(i - 1 AS VARCHAR))), 1, 8)) AS BIGINT) "
    "% 2001 - 1000) / 1000.0)"
)
_ANN_SIG = (
    f"CAST(list_sum(list_transform(range(0, {S.ANN_PLANES}), p -> "
    "CASE WHEN list_reduce(list_transform(range(1, 65), "
    f"i -> v[i] * {_PLANE.format(t='t.t')}), (a, b) -> a + b) > 0 "
    "THEN (1 << p) ELSE 0 END)) AS INTEGER)"
)

SIMILARITY_ANN_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
buckets AS (
    SELECT vec_id, v, t.t AS tbl, {_ANN_SIG} AS bucket
    FROM e CROSS JOIN range(0, {S.ANN_TABLES}) t(t)
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buckets WHERE vec_id < 5),
cand AS (
    SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
    FROM buckets b JOIN qb USING (tbl, bucket)
    WHERE b.vec_id != qb.query_id
),
scored AS (
    SELECT query_id, neighbor_id,
           {_COS_SQL.replace("q_vec", "q.v").replace("c_vec", "c.v")} AS cosine_sim
    FROM cand
    JOIN e q ON q.vec_id = cand.query_id
    JOIN e c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rank
    FROM scored
) WHERE rank <= {S.TOPK}
"""


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-list) ANN top-10 — the coarse-quantizer scale path.
    Deterministic (lowest-id seed centroids), so index build (nearest-list
    assignment), query-time multi-probe, and the probed-lists-only scoring
    are all hash-checked against the DuckDB oracle; recall vs. the exact
    baseline is additionally pinned in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, e.filter(F.col("vec_id") < 5))


# sequential-fold squared L2 — the SQL twin of operators/similarity.l2sq
_L2SQ = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> (e.v[i] - c.c_vec[i]) * (e.v[i] - c.c_vec[i])), (a, b) -> a + b)"
)

SIMILARITY_IVF_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cluster_id, v AS c_vec FROM e WHERE vec_id < 16),
lists AS (
    SELECT vec_id AS neighbor_id, v AS c_emb, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN cents c
    ) WHERE crank <= 1
),
probes AS (
    SELECT vec_id AS query_id, v AS q_vec, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN cents c
        WHERE e.vec_id < 5
    ) WHERE crank <= 4
),
scored AS (
    SELECT query_id, neighbor_id,
           {_COS_SQL.replace("c_vec", "c_emb")} AS cosine_sim
    FROM lists JOIN probes USING (cluster_id)
    WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id, rank, cosine_sim FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rank
    FROM scored
) WHERE rank <= 10
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    recipe): cluster the embedding space with a coarse quantizer, then
    prune near-duplicates ONLY within each cluster — the trick that turns
    the O(n²) cosine dedup into Σ O(|cluster|²), the same
    candidates-then-verify shape as MinHash-LSH but in embedding space.
    Keeps the lowest vec_id of each duplicate group (kept=false rows are
    the prune list a pipeline would drop).

    Deterministic: seed centroids are the lowest-id vectors (as
    similarity_ivf), assignment is nearest-centroid L2 with id tiebreak,
    and the verdict joins are id-ordered — so the WHOLE pipeline
    hash-checks against DuckDB. Scale: assignment broadcasts the centroid
    table (no shuffle of the corpus), the only shuffle keys on cluster_id,
    and the within-cluster pair join is bounded by cluster size.

    n_centroids = ⌈√n⌉, derived from a cheap count of the corpus (round-2
    verdict item 3 — a hard-coded constant lets the within-cluster pair
    join degenerate toward all-pairs/k as the corpus grows; √n keeps the
    expected cluster size AND the centroid table both at √n, the classic
    IVF balance point). The count rides as a 1-row broadcast inside the
    centroid derivation — no collect, same deterministic lowest-id seeding,
    and ceil(sqrt(integer)) is bit-identical across engines."""
    e = load_table(spark, sf_dir, "embeddings")
    k = e.agg(
        F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("n_centroids")
    )
    cents = F.broadcast(
        e.crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("n_centroids"))
        .select(
            F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("c_vec")
        )
    )
    # materialized once: three consumers (both pair sides + the verdict
    # join) would otherwise re-derive the assignment shuffle each
    assigned = (
        S.ivf_assign(e, cents)
        .select("vec_id", "embedding", "cluster_id")
        .localCheckpoint()
    )
    a = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        S.norm(F.col("embedding")).alias("n_a"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        S.norm(F.col("embedding")).alias("n_b"),
    )
    dup_ids = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            S.cosine_given_norms(
                F.col("va"), F.col("vb"), F.col("n_a"), F.col("n_b")
            )
            >= 0.4
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.join(dup_ids, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


SEMANTIC_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cluster_id, v AS c_vec FROM e
          WHERE vec_id < (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM e)),
assigned AS (
    SELECT vec_id, v, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN cents c
    ) WHERE crank <= 1
),
dups AS (
    SELECT DISTINCT b.vec_id
    FROM assigned a JOIN assigned b USING (cluster_id)
    WHERE a.vec_id < b.vec_id
      AND {_COS_SQL.replace("q_vec", "a.v").replace("c_vec", "b.v")} >= 0.4
)
SELECT a.vec_id, a.cluster_id, (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy measurement: on every LSH candidate pair, the MinHash
    ESTIMATE of Jaccard (fraction of matching signature slots — the unbiased
    estimator the LSH banding is built on) next to the TRUE shingle Jaccard
    and the absolute error. This is the query an operator of the pipeline
    runs to tune (num_hashes, bands) before trusting the sketch at corpus
    scale — estimator quality is data-dependent (shingle-set sizes), so it
    must be measured, not assumed. Candidates only: the estimate is already
    computed for free there, and the tiny candidate relation makes the true
    Jaccard affordable."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    cand = D.minhash_candidate_shingles(d, "text", "doc_id")
    sigs = d.select(
        F.col("doc_id"), D.shingle_hashes("text").alias("shh")
    ).select("doc_id", D.minhash_signature(F.col("shh")).alias("sig"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                lambda m: m,
            )
        ).cast("double")
        / 32.0
    )
    out = (
        cand.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(est.cast("decimal(28,8)"), 4).cast("double").alias("est_jaccard"),
            D.jaccard(F.col("sh_a"), F.col("sh_b")).alias("true_jaccard"),
        )
    )
    return out.withColumn(
        "abs_err",
        F.round(
            F.abs(F.col("est_jaccard") - F.col("true_jaccard")).cast("decimal(28,8)"),
            4,
        ).cast("double"),
    ).orderBy("doc_a", "doc_b")


MINHASH_ACCURACY_SQL = f"""
WITH {_MINHASH_CAND_CTES}
SELECT doc_a, doc_b, est_jaccard, true_jaccard,
       CAST(ROUND(CAST(ABS(est_jaccard - true_jaccard) AS DECIMAL(28,8)), 4)
            AS DOUBLE) AS abs_err
FROM (
    SELECT doc_a, doc_b,
           CAST(ROUND(CAST(CAST(len(list_filter(
                 range(1, 33), i -> ga.sig[CAST(i AS INTEGER)] = gb.sig[CAST(i AS INTEGER)]))
                 AS DOUBLE) / 32.0
                 AS DECIMAL(28,8)), 4) AS DOUBLE) AS est_jaccard,
           CAST(ROUND(CAST(CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                 THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(sa.sh || sb.sh))
                 ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS true_jaccard
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
    JOIN sig ga ON ga.doc_id = doc_a
    JOIN sig gb ON gb.doc_id = doc_b
)
ORDER BY doc_a, doc_b
"""


def q_ivf_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-build diagnostics: inverted-list sizes per cluster — the
    balance check that decides whether the coarse quantizer needs more/
    better centroids before query traffic hits it (one hot list degrades
    ANN to brute force over that list). One broadcast-assign pass + a
    16-row aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        e.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("c_vec")
        )
    )
    lists = S.ivf_assign(e, cents)
    return (
        lists.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
            F.max("vec_id").cast("long").alias("max_vec_id"),
        )
        .orderBy("cluster_id")
    )


IVF_CLUSTER_STATS_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cluster_id, v AS c_vec FROM e WHERE vec_id < 16),
lists AS (
    SELECT vec_id, cluster_id FROM (
        SELECT e.vec_id, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN cents c
    ) WHERE crank <= 1
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
FROM lists
GROUP BY cluster_id
ORDER BY cluster_id
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id < 20), the most-similar vector with a DIFFERENT label — the
    negatives that actually move a metric-learning loss, versus the random
    negatives q_triplet_sampling draws (random pairs are trivially easy in
    high dimensions; hard-negative quality is what separates retrieval
    models). Deterministic tiebreak (sim desc, id asc); at corpus scale the
    candidate set comes from the ANN bucketing instead of the full cross
    join — the anchor set broadcast and the top-1 rank window are the
    shape either way."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_vec"),
        F.col("label").alias("a_label"),
    )
    cands = fan_out(e).select(
        F.col("vec_id").alias("negative_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_n"),
        F.col("label").alias("n_label"),
    )
    scored = (
        cands.crossJoin(F.broadcast(anchors.withColumn("a_n", S.norm(F.col("a_vec")))))
        .filter(F.col("n_label") != F.col("a_label"))
        .select(
            "anchor_id",
            "a_label",
            "negative_id",
            F.col("n_label").alias("negative_label"),
            S.cosine_given_norms(
                F.col("a_vec"), F.col("c_vec"), F.col("a_n"), F.col("c_n")
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine_sim"), F.asc("negative_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("anchor_id", "a_label", "negative_id", "negative_label", "cosine_sim")
        .orderBy("anchor_id")
    )


HARD_NEGATIVES_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
a AS (SELECT vec_id AS anchor_id, v AS q_vec, label AS a_label FROM e WHERE vec_id < 20),
scored AS (
    SELECT anchor_id, a_label, e.vec_id AS negative_id, e.label AS negative_label,
           {_COS_SQL.replace("c_vec", "e.v")} AS cosine_sim
    FROM e CROSS JOIN a
    WHERE e.label != a.a_label
)
SELECT anchor_id, a_label, negative_id, negative_label, cosine_sim FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY cosine_sim DESC, negative_id) AS rn
    FROM scored
) WHERE rn = 1
ORDER BY anchor_id
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at τ=0.4 — the PRIMARY, 100-TB-shaped
    form (round-5 verdict item 2): hyperplane-LSH bucket candidates → exact
    cosine verify, candidate volume Θ(tables·n²/2^planes) instead of the
    all-pairs n²/2. The oracle below mirrors the bucketing bit-for-bit
    (md5-derived planes), so the whole candidates→verify pipeline is
    hash-checked; recall vs. the exact form (`dedup_embedding_exact`) is
    pinned separately in tests (~0.80 on these fixtures, whose pairs all
    sit AT the threshold angle — production τ≥0.85 clears 0.95)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.embedding_dup_pairs_lsh(e)


def q_dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at τ=0.4 — exact all-pairs O(n²)
    VERIFIER for `dedup_embedding` (ground truth for its recall test; run
    at scale only inside a blocking key or on a candidate set)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.embedding_dup_pairs(e)


# 4-plane signature (the dedup variant; _ANN_SIG is the 5-plane ANN one)
_DUP_SIG = (
    "CAST(list_sum(list_transform(range(0, 4), p -> "
    "CASE WHEN list_reduce(list_transform(range(1, 65), "
    f"i -> v[i] * {_PLANE.format(t='t.t')}), (a, b) -> a + b) > 0 "
    "THEN (1 << p) ELSE 0 END)) AS INTEGER)"
)

DEDUP_EMBEDDING_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
buckets AS (
    SELECT vec_id, t.t AS tbl, {_DUP_SIG} AS bucket
    FROM e CROSS JOIN range(0, {S.DUP_TABLES}) t(t)
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a JOIN buckets b USING (tbl, bucket)
    WHERE a.vec_id < b.vec_id
)
SELECT * FROM (
    SELECT vec_a, vec_b,
           {_COS_SQL.replace("q_vec", "ea.v").replace("c_vec", "eb.v")} AS cosine_sim
    FROM cand
    JOIN e ea ON ea.vec_id = cand.vec_a
    JOIN e eb ON eb.vec_id = cand.vec_b
) WHERE cosine_sim >= {S.DUP_THRESHOLD}
"""

DEDUP_EMBEDDING_EXACT_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT * FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_COS_SQL.replace("q_vec", "a.v").replace("c_vec", "b.v")} AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cosine_sim >= {S.DUP_THRESHOLD}
"""


def q_dedup_embedding_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_embedding` with the planes-scaling rule EXECUTED instead of
    documented (round 6 — the same prose→code move as
    randomization_inference_bernoulli): planes = max(4, ceil(log2(n/32)))
    from one O(1)-output count job, so per-table bucket population stays
    ~32 as the corpus grows and candidate volume stays
    Θ(tables·n·B) — LINEAR in n at fixed target bucket size B, the form
    that survives 100 TB (fixed-planes LSH is Θ(n²/2^planes)). The count
    is metadata-cheap on parquet; the derived planes is a plan-time
    constant on both engines (the oracle computes the identical
    ceil(log2) from its own COUNT — exact for every n since log2 ties
    land only on exact powers of two). At the driver SFs n=500 keeps
    planes=4, making this provably identical to `dedup_embedding`; the
    adaptive branch (planes>4) is pinned by a property test on the
    2k-vector generated corpus. Recall note: more planes at fixed tables
    lowers recall at a FIXED similarity threshold — the rule assumes the
    production near-dup regime (τ≥0.85) where per-plane collision ≥0.82
    keeps multi-table recall high; for borderline-τ sweeps, grow tables
    with planes (the banded-minhash trade, operators/dedup.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    import math

    n = e.count()
    planes = max(4, math.ceil(math.log2(max(n, 1) / 32.0)))
    return S.embedding_dup_pairs_lsh(e, planes=planes)


def _dup_sig_adaptive() -> str:
    # planes as a scalar subquery: same ceil(log2(n/32)) the engine derives
    return (
        "CAST(list_sum(list_transform(range(0, (SELECT p FROM np)), p -> "
        "CASE WHEN list_reduce(list_transform(range(1, 65), "
        f"i -> v[i] * {_PLANE.format(t='t.t')}), (a, b) -> a + b) > 0 "
        "THEN (1 << p) ELSE 0 END)) AS INTEGER)"
    )


DEDUP_EMBEDDING_ADAPTIVE_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
np AS (
    SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(COUNT(*), 1) / 32.0)) AS INT)) AS p
    FROM e
),
buckets AS (
    SELECT vec_id, t.t AS tbl, {_dup_sig_adaptive()} AS bucket
    FROM e CROSS JOIN range(0, {S.DUP_TABLES}) t(t)
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a JOIN buckets b USING (tbl, bucket)
    WHERE a.vec_id < b.vec_id
)
SELECT * FROM (
    SELECT vec_a, vec_b,
           {_COS_SQL.replace("q_vec", "ea.v").replace("c_vec", "eb.v")} AS cosine_sim
    FROM cand
    JOIN e ea ON ea.vec_id = cand.vec_a
    JOIN e eb ON eb.vec_id = cand.vec_b
) WHERE cosine_sim >= {S.DUP_THRESHOLD}
"""


def q_split_leakage_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/eval contamination scan (round 6): after a
    deterministic 90/10 train/eval split (md5 of vec_id — the
    dataset_split content-hash discipline), count the eval vectors whose
    cosine similarity to ANY train vector reaches τ=0.4 — the
    embedding-space counterpart of contamination_check's n-gram overlap
    (an eval item the model saw a near-copy of in training inflates the
    benchmark). Candidates come from the same hyperplane-LSH buckets as
    `dedup_embedding` (planes=4, tables=8) with the exact-cosine verify on
    top, so the scan stays Θ(tables·n²/2^planes) — leak RECALL equals the
    LSH recall (~0.8 here at worst-case angles, ≥0.95 at production τ),
    exactly how at-scale decontamination runs: a recall-tuned candidate
    filter, never an all-pairs sweep. Per-label output so a skewed leak
    (one class contaminated) is visible, not averaged away."""
    e = load_table(spark, sf_dir, "embeddings")
    bucket100 = X.char_hash32(F.col("vec_id").cast("string")) % 100
    tagged = e.select(
        "vec_id", "embedding", "label", (bucket100 < 90).alias("is_train")
    )
    b = S._with_buckets(fan_out(tagged), "vid", "vec", S.DUP_TABLES, planes=4)
    sides = b.join(
        tagged.select(F.col("vec_id").alias("vid"), "is_train"), "vid"
    )
    ev = sides.filter(~F.col("is_train")).select(
        "tbl",
        "bucket",
        F.col("vid").alias("eval_id"),
        F.col("vec").alias("ev"),
        S.norm(F.col("vec")).alias("ev_n"),
    )
    tr = sides.filter(F.col("is_train")).select(
        "tbl",
        "bucket",
        F.col("vid").alias("train_id"),
        F.col("vec").alias("tv"),
        S.norm(F.col("vec")).alias("tv_n"),
    )
    leaked = (
        ev.join(tr, ["tbl", "bucket"])
        .select("eval_id", "train_id", "ev", "tv", "ev_n", "tv_n")
        .dropDuplicates(["eval_id", "train_id"])
        .filter(
            S.cosine_given_norms(
                F.col("ev"), F.col("tv"), F.col("ev_n"), F.col("tv_n")
            )
            >= 0.4
        )
        .select("eval_id")
        .distinct()
    )
    return (
        tagged.filter(~F.col("is_train"))
        .join(leaked.withColumn("leak", F.lit(1)), tagged.vec_id == leaked.eval_id, "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.coalesce("leak", F.lit(0))).cast("long").alias("n_leaked"),
        )
        .select(
            "label",
            "n_eval",
            "n_leaked",
            snap_round(F.col("n_leaked") / F.col("n_eval"), 6).alias("leak_rate"),
        )
        .orderBy("label")
    )


SPLIT_LEAKAGE_EMBEDDING_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
           CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 < 90 AS is_train
    FROM embeddings
),
buckets AS (
    SELECT vec_id, is_train, t.t AS tbl, {{sig}} AS bucket
    FROM e CROSS JOIN range(0, 8) t(t)
),
cand AS (
    SELECT DISTINCT ev.vec_id AS eval_id, tr.vec_id AS train_id
    FROM buckets ev JOIN buckets tr USING (tbl, bucket)
    WHERE NOT ev.is_train AND tr.is_train
),
leaked AS (
    SELECT DISTINCT eval_id
    FROM cand
    JOIN e ea ON ea.vec_id = cand.eval_id
    JOIN e eb ON eb.vec_id = cand.train_id
    WHERE {_COS_SQL.replace("q_vec", "ea.v").replace("c_vec", "eb.v")} >= 0.4
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN l.eval_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked,
       CAST(ROUND(CAST(
           CAST(SUM(CASE WHEN l.eval_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS DECIMAL(28,8)), 6) AS DOUBLE) AS leak_rate
FROM e LEFT JOIN leaked l ON e.vec_id = l.eval_id
WHERE NOT e.is_train
GROUP BY label
ORDER BY label
""".format(sig=_DUP_SIG)


# --- multimodal -------------------------------------------------------------


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload bytes → Arrow-batched mapInPandas
    kernel → (n_bytes, header_hex, checksum). The oracle recomputes the
    kernel's outputs in SQL (ASCII text payloads ⇒ byte = codepoint)."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return binary_metadata(d, "doc_id", "payload")


MULTIMODAL_METADATA_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       hex(encode(substr(text, 1, 4))) AS header_hex,
       CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
            i -> ascii(substr(text, i, 1)))), 0) % 1000000007 AS BIGINT) AS checksum
FROM documents
"""


def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for the image modality —
    the visual twin of simhash/minhash text dedup: decode each payload
    (the deterministic fake-decode grid; a real decoder swaps in per
    operators/multimodal.dhash_code), dHash it to 64 bits, band the hash
    4×16 bits, self-join on (band, value), and verify candidates at
    Hamming ≤ 3.

    The threshold is chosen AT the banding guarantee: two hashes within
    Hamming 3 differ in at most 3 of the 4 bands (pigeonhole), so the
    band join has EXACT recall — the oracle can run the all-pairs
    comparison and the banded plan must reproduce it bit-for-bit, pair
    for pair. At corpus scale the band join touches only colliding
    buckets (the minhash-LSH posture); all-pairs exists only in the
    oracle. Hamming distance is computed on the two unsigned-32-bit
    halves (bit_count over XOR), which both engines agree on exactly —
    the full 64-bit code would wrap signed int64.

    Fixture contract: the oracle reconstructs the payload from `text`
    via per-CHARACTER code points, which equals the kernel's per-BYTE
    grid only for ASCII documents (the driver fixtures are ASCII by
    construction — the hash-checked multimodal_metadata oracle relies
    on the same identity). Production payloads are opaque binaries read
    from parquet; only the Spark kernel path applies there."""
    from candyspark.operators.multimodal import phash_codes

    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    ph = phash_codes(d, "doc_id", "payload").localCheckpoint()
    bands = ph.select(
        "doc_id",
        "ph_hi",
        "ph_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("b"), F.shiftright("ph_hi", 16).alias("v")
                ),
                F.struct(
                    F.lit(1).alias("b"),
                    F.col("ph_hi").bitwiseAND(F.lit(65535)).alias("v"),
                ),
                F.struct(
                    F.lit(2).alias("b"), F.shiftright("ph_lo", 16).alias("v")
                ),
                F.struct(
                    F.lit(3).alias("b"),
                    F.col("ph_lo").bitwiseAND(F.lit(65535)).alias("v"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "ph_hi", "ph_lo", "band.b", "band.v")
    a = bands.select(
        F.col("b"),
        F.col("v"),
        F.col("doc_id").alias("doc_a"),
        F.col("ph_hi").alias("hi_a"),
        F.col("ph_lo").alias("lo_a"),
    )
    b = bands.select(
        F.col("b"),
        F.col("v"),
        F.col("doc_id").alias("doc_b"),
        F.col("ph_hi").alias("hi_b"),
        F.col("ph_lo").alias("lo_b"),
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        a.join(b, ["b", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


MULTIMODAL_PHASH_DEDUP_SQL = """
WITH px AS (
    SELECT doc_id,
           list_transform(range(1, 73),
               i -> ascii(substr(text,
                    CAST((i - 1) % GREATEST(length(text), 1) AS INT) + 1, 1)))
               AS p
    FROM documents
),
ph AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), j ->
               CASE WHEN p[CAST(j // 8 AS INT) * 9 + (j % 8) + 1]
                       < p[CAST(j // 8 AS INT) * 9 + (j % 8) + 2]
                    THEN CAST(POWER(2, 31 - j) AS BIGINT) ELSE 0 END))
               AS BIGINT) AS ph_hi,
           CAST(list_sum(list_transform(range(32, 64), j ->
               CASE WHEN p[CAST(j // 8 AS INT) * 9 + (j % 8) + 1]
                       < p[CAST(j // 8 AS INT) * 9 + (j % 8) + 2]
                    THEN CAST(POWER(2, 63 - j) AS BIGINT) ELSE 0 END))
               AS BIGINT) AS ph_lo
    FROM px
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ph_hi, b.ph_hi))
            + bit_count(xor(a.ph_lo, b.ph_lo)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3
ORDER BY doc_a, doc_b
"""


# --- event-time windows -----------------------------------------------------


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.tumbling_agg(load_table(spark, sf_dir, "events"))


EVENTS_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '{E.WINDOW}', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS num_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sliding_agg(load_table(spark, sf_dir, "events"))


EVENTS_SLIDING_SQL = """
SELECT window_start, event_type,
       COUNT(*) AS num_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM (
    SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, value
    FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes',
           event_type, value
    FROM events
)
GROUP BY 1, 2
"""


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.session_agg(load_table(spark, sf_dir, "events"))


EVENTS_SESSION_SQL = """
WITH o AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                  OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w
                     > INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
),
s AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
    FROM o
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       COUNT(*) AS num_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, sess
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.json_props_extract(load_table(spark, sf_dir, "events"))


EVENTS_JSON_SQL = """
SELECT event_id, event_type,
       CAST(json_extract(props, '$.k') AS INT) AS prop_k
FROM events
"""


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type: parse_json →
    variant_get with a typed path — the open-schema ingestion path (parse
    once into the binary variant encoding, extract lazily and typed) vs
    events_json's per-field string extraction. At 100 TB variant beats
    re-parsing the JSON string per field: the parse cost is paid once per
    row regardless of how many fields downstream operators pull, and
    shredded variant columns store/scan like columns, not strings."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_VARIANT_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_multimodal_arrow_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary metadata through the Arrow-NATIVE kernel path (``mapInArrow``,
    operators/multimodal.arrow_binary_meta — no pandas conversion either
    side). The payload is the deterministic utf-8 encoding of text, so
    byte length and the 4-byte header hex are SQL-derivable and the whole
    Arrow pipeline sits under the oracle hash — unlike the stubbed decode
    kernels (rows-only by necessity)."""
    from candyspark.operators.multimodal import arrow_binary_meta, with_binary_payload

    d = with_binary_payload(fan_out(load_table(spark, sf_dir, "documents")))
    return arrow_binary_meta(d, "doc_id", "payload").orderBy("doc_id")


MULTIMODAL_ARROW_META_SQL = """
-- chars==bytes holds because the corpus is pure ASCII (verified:
-- octet_length(encode(text)) = length(text) for every row); DuckDB has no
-- BLOB substring, so the byte slice is taken before encoding
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       lower(hex(encode(substring(text, 1, 4)))) AS header_hex
FROM documents
ORDER BY doc_id
"""


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function family over the embedding column —
    transform / aggregate (fold) / filter / array_max / array_min, all
    JVM-side lambda expressions (no UDF; the similarity operators use the
    same primitives for dot products, operators/similarity.py).

    The folds accumulate in DOUBLE in strict element order on both engines
    (sequential fold ≡ DuckDB list_reduce), so the doubles agree bit-for-bit
    before the 4-dp snap. Scale: pure scan-stage expressions — zero
    exchanges, pipelineable at any SF.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        snap_round(fold(dbl), 4).alias("el_sum"),
        snap_round(fold(F.transform(dbl, F.abs)), 4).alias("l1_norm"),
        F.array_max("embedding").cast("double").alias("max_el"),
        F.array_min("embedding").cast("double").alias("min_el"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("num_positive"),
    ).orderBy("vec_id")


ARRAY_FUNCTIONS_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(ROUND(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(embedding, x -> CAST(x AS DOUBLE))),
                (a, x) -> a + x) AS DECIMAL(28,8)), 4) AS DOUBLE) AS el_sum,
       CAST(ROUND(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))),
                (a, x) -> a + x) AS DECIMAL(28,8)), 4) AS DOUBLE) AS l1_norm,
       CAST(list_max(embedding) AS DOUBLE) AS max_el,
       CAST(list_min(embedding) AS DOUBLE) AS min_el,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS num_positive
FROM embeddings
ORDER BY vec_id
"""


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function family (the reference touches no map type at all —
    SURVEY.md §2.10 "no map functions"): per order, build line→Σquantity and
    line→Σgross maps with map_from_entries, combine them with map_zip_with
    (quantity-weighted average unit price per line), keep the expensive
    lines with map_filter, and flatten back to rows by exploding the map.
    Every lambda is a JVM-side Catalyst expression — no UDF.

    Keys must be unique for map_from_entries (Spark errors on duplicates by
    default — the right default at scale; LAST_WIN hides data bugs), so the
    plan pre-aggregates to (order, linenumber) grain first — sums in exact
    DECIMAL, division deferred to the zip lambda so only the final ratio
    touches floats. The DuckDB oracle states the same result relationally
    (grouped projection, no maps): the map round-trip must be semantically
    invisible, which is what the hash check proves; map iteration order is
    irrelevant because the compare is order-insensitive. Scale: ONE
    explicit repartition on l_orderkey up front — hash-partitioning on the
    prefix satisfies ClusteredDistribution for BOTH aggregates (the
    (l_orderkey, l_linenumber) grain and the l_orderkey map build), so the
    whole plan runs on a single wide shuffle instead of two. Nothing is
    lost map-side: (orderkey, linenumber) is the table's grain, so a
    pre-shuffle partial agg would combine nothing anyway. Maps hold ≤7
    entries; state per key is O(lines-per-order)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    ).repartition("l_orderkey")
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("qty").alias("qty"),
        F.sum(F.col("qty") * F.col("price")).alias("gross"),
    )
    per_order = per_line.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("l_linenumber", "qty"))
        ).alias("qty_map"),
        F.map_from_entries(
            F.collect_list(F.struct("l_linenumber", "gross"))
        ).alias("gross_map"),
    )
    avg_price = per_order.select(
        "l_orderkey",
        F.map_filter(
            F.map_zip_with(
                "gross_map",
                "qty_map",
                # snap the float ratio to DECIMAL before rounding — round()
                # straight on a double is engine-dependent at 4-dp ties
                lambda k, g, q: snap_round(
                    g.cast("double") / q.cast("double"), 4
                ),
            ),
            lambda k, v: v > 80000,
        ).alias("avg_map"),
    )
    return (
        avg_price.select(
            "l_orderkey", F.explode("avg_map").alias("l_linenumber", "avg_price")
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


MAP_FUNCTIONS_SQL = """
WITH per_line AS (
    SELECT l_orderkey, l_linenumber,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS gross
    FROM lineitem
    GROUP BY l_orderkey, l_linenumber
)
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(CAST(gross AS DOUBLE) / CAST(qty AS DOUBLE)
                       AS DECIMAL(28,8)), 4) AS DOUBLE) AS avg_price
FROM per_line
WHERE CAST(ROUND(CAST(CAST(gross AS DOUBLE) / CAST(qty AS DOUBLE)
                      AS DECIMAL(28,8)), 4) AS DOUBLE) > 80000
ORDER BY l_orderkey, l_linenumber
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, computed RELATIONALLY: posexplode the
    vector to (label, pos, x) rows, hash-aggregate exact-decimal sums per
    (label, pos), divide once at the end — the mean-vector building block
    under IVF coarse quantizers and k-means (operators/clustering.py uses
    the same posexplode-mean shape). Floats are cast float→double (exact)
    →DECIMAL before summing, so the partial-agg tree and single-threaded
    DuckDB agree bit-for-bit.

    Scale: the explode is dim× row inflation (64× here) but map-side partial
    aggregation collapses it to |labels|·dim rows per task before the ONE
    shuffle; output is |labels|·dim rows regardless of input size. This is
    the pattern that replaces a driver-side numpy mean at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label", "pos", F.col("x").cast("double").cast("decimal(20,8)").alias("xd")
    )
    return (
        ex.groupBy("label", "pos")
        .agg(F.sum("xd").alias("s"), F.count(F.lit(1)).alias("n_vecs"))
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n_vecs"), 5).alias("centroid"),
            "n_vecs",
        )
        .orderBy("label", "pos")
    )


LABEL_CENTROIDS_SQL = """
SELECT label,
       CAST(i AS INTEGER) AS pos,
       ROUND(CAST(SUM(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(20,8)))
                  AS DOUBLE) / COUNT(*), 5) AS centroid,
       COUNT(*) AS n_vecs
FROM embeddings, unnest(range(len(embedding))) AS t(i)
GROUP BY label, i
ORDER BY label, pos
"""


def q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed term statistics (word count + document frequency) — the
    canonical corpus-scale aggregation an LLM-data pipeline runs first.
    Tokenizer is the engine's shared regex (operators/text.py tokens()),
    identical to every other text operator's.

    Scale: explode multiplies rows ~|tokens|×, then partial aggregation
    collapses map-side BEFORE the term shuffle, so the exchange carries one
    row per (task, term). Natural-language term frequency is Zipfian —
     'the' alone is ~5% of tokens — which partial agg absorbs; for
    countDistinct over doc_id the skew lands on the distinct expansion, and
    operators/skew.salted_agg is the documented escape hatch at 100 TB.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split(F.lower("text"), r"\W+"), lambda x: x != F.lit(""))
    return (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("total_count"), "term")
        .limit(50)
    )


TERM_FREQUENCIES_SQL = f"""
SELECT term, COUNT(*) AS total_count, COUNT(DISTINCT doc_id) AS doc_freq
FROM (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
)
GROUP BY term
ORDER BY total_count DESC, term
LIMIT 50
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize kernel plumbing (1→1 mapInPandas over a binary column;
    decode stubbed deterministically — operators/multimodal.py). The stub
    'codec' is byte-repeat-truncate over the ASCII payload, so the WHOLE
    Arrow round trip — binary in, fixed-size binary out — hash-checks
    against a DuckDB oracle (byte = codepoint on this corpus); dedicated
    tests additionally pin the kernel's bytes."""
    from candyspark.operators.multimodal import resize_images

    # empty payloads are excluded on BOTH sides (the oracle's WHERE and this
    # filter): the stub codec's empty-input convention (all-zero bytes) has
    # no SQL twin, and decoding nothing is degenerate anyway
    d = with_binary_payload(
        fan_out(load_table(spark, sf_dir, "documents").filter(F.length("text") > 0))
    )
    out = resize_images(d, "doc_id", "payload", width=32, height=32)
    # the kernel's surface is BINARY (that's the plumbing under test); the
    # driver adapter serializes it to hex because the two engines' python
    # clients box blobs differently (bytes vs bytearray) and the hash
    # compares their text forms
    return out.select(
        "doc_id", "width", "height", F.hex("resized").alias("resized_hex")
    )


MULTIMODAL_RESIZE_SQL = """
SELECT doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(32 AS INTEGER) AS height,
       hex(encode(substr(repeat(text, CAST(CEIL(1024.0 / length(text)) AS INTEGER)),
                         1, 1024))) AS resized_hex
FROM documents
WHERE length(text) > 0
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling kernel plumbing (1→N mapInPandas: each binary payload
    emits every-4th fixed-size chunk with its index). The 1→N Arrow shape
    is the point — output rows are not aligned with input rows, which a
    scalar pandas_udf cannot express; the deterministic chunking 'codec'
    makes the whole path DuckDB-oracle-checkable."""
    from candyspark.operators.multimodal import sample_frames

    d = with_binary_payload(
        fan_out(load_table(spark, sf_dir, "documents").filter(F.length("text") > 0))
    )
    out = sample_frames(d, "doc_id", "payload")
    return out.select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex"))


MULTIMODAL_FRAMES_SQL = """
WITH f AS (
    SELECT doc_id, text,
           unnest(range(0, CAST(CEIL(length(text) / 256.0) AS BIGINT))) AS i
    FROM documents
    WHERE length(text) > 0
)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       hex(encode(substr(text, CAST(i * 256 + 1 AS INTEGER), 256))) AS frame_hex
FROM f
WHERE i % 4 = 0
"""


@contextmanager
def _landed(df: DataFrame, n_files: int = 1) -> Iterator[tuple[str, str]]:
    """Re-land a frame as parquet for a single-micro-batch availableNow
    run (multi-batch behavior — watermark drops, cross-batch state — is
    covered by tests/test_streaming.py; the driver-visible queries pin
    the batch-equivalence contract instead).

    Default is ONE file: several drains (the dedup family) keep the
    first-arrived row per key, so within-batch arrival order must be
    deterministic. Order-insensitive drains (joins — every match emits,
    null-flush is watermark-driven) pass n_files>1 for a parallel landing
    write; any n_files ≪ the source's availableNow file-batch limit still
    lands in a single micro-batch.

    Yields ``(source dir, checkpoint dir)`` and removes both on exit: the
    frame ``drain()`` returns lives in the memory sink on the driver, so
    nothing reads either directory after the drain."""
    src = tempfile.mkdtemp(prefix="candyspark_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="candyspark_stream_ckpt_")
    try:
        shaped = df.coalesce(1) if n_files == 1 else df.repartition(n_files)
        shaped.write.mode("overwrite").parquet(src)
        yield src, ckpt
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _outer_join_sentinels(events: DataFrame) -> DataFrame:
    """Two far-future rows (user_id −1, one click and one error, at max ts
    + 10 h) for the outer stream-stream join drains: null-padded rows emit
    only once the watermark passes click_ts + horizon — end-of-data alone
    flushes nothing — so these drive the final watermark past every real
    event and the closing no-data batch emits the unmatched tails. Callers
    filter user_id −1 from the result."""
    max_ts = events.agg((F.max("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"))
    return (
        events.sparkSession.createDataFrame(
            [(-1, "click"), (-2, "error")], "event_id long, event_type string"
        )
        .crossJoin(F.broadcast(max_ts))
        .select(
            "event_id",
            "ts",
            F.lit(-1).cast("long").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate run through Structured Streaming
    (file source → watermark → windowed agg → availableNow drain into a
    memory sink) and checked against the SAME DuckDB oracle as the batch
    form — the batch/stream unification gate, driver-visible.

    The source is re-landed as ONE µs-timestamp parquet file so the
    available-now run is a single micro-batch: with multiple batches the
    watermark would legitimately drop late rows and the batch oracle would
    no longer be the spec (tests/test_streaming.py covers the multi-batch
    stateful path instead).
    """
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        return drain(
            streaming_tumbling_agg(read_events_stream(spark, src)),
            "complete",
            ckpt,
        )


STREAMING_TUMBLING_SQL = EVENTS_TUMBLING_SQL


def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idempotent foreachBatch UPSERT sink driven end to end: events
    stream in TWO micro-batches (maxFilesPerTrigger=1 over a 2-file
    landing) through run_foreach_batch_merge keyed on user_id with
    event_id as the version, and the resulting parquet-backed table must
    equal the batch latest-row-per-user oracle — the streaming CDC-style
    keyed materialization every operational pipeline maintains.
    Batch-order independence is the point: whichever file lands first, the
    merged table converges to the same latest-per-key rows.

    The merged table's dir is scoped to the call: the result is
    materialized with ``localCheckpoint()`` before the dir is removed, so
    the returned frame never reads it."""
    from candyspark.schemas import EVENTS

    events = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="candyspark_upsert_")
    try:
        with _landed(events, n_files=2) as (src, ckpt):
            stream = (
                spark.readStream.schema(EVENTS)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            run_foreach_batch_merge(stream, out, ["user_id"], "event_id", ckpt)
        table = merged_table_path(out)
        if table is None:  # empty source → no batch committed
            return spark.createDataFrame([], EVENTS).select(
                "user_id", "event_id", "event_type", "value"
            )
        return (
            spark.read.parquet(table)
            .select("user_id", "event_id", "event_type", "value")
            .orderBy("user_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


STREAMING_UPSERT_SQL = """
SELECT user_id, event_id, event_type, value FROM (
    SELECT user_id, event_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events
) WHERE rn = 1
ORDER BY user_id
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication: the events table landed TWICE
    into the stream source (every row an exact duplicate), drained through
    dropDuplicates state — output must be exactly the original table, i.e.
    the batch DISTINCT oracle."""
    events = load_table(spark, sf_dir, "events")
    with _landed(events.unionByName(events)) as (src, ckpt):
        out = drain(
            streaming_dedup(read_events_stream(spark, src), ["event_id"]), "append", ckpt
        )
    return out.select("event_id", "user_id", "event_type", "ts")


STREAMING_DEDUP_SQL = """
SELECT DISTINCT event_id, user_id, event_type, ts
FROM events
"""


def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-jittered duplicate collapse: every event lands TWICE, the copy
    re-stamped 60 s later (a retry with a fresh timestamp — the shape plain
    key+ts dedup cannot catch, since the composite key differs).
    ``dropDuplicatesWithinWatermark`` on event_id collapses each pair while
    holding per-key state only one watermark past first arrival. The output
    projects only key-determined columns (ts is first-arrival-dependent, so
    it is excluded by contract — see streaming/stream.py); the oracle is the
    batch DISTINCT of those columns."""
    events = load_table(spark, sf_dir, "events")
    jittered = events.withColumn("ts", F.col("ts") + F.expr("INTERVAL 60 SECONDS"))
    with _landed(events.unionByName(jittered)) as (src, ckpt):
        out = drain(
            streaming_dedup_within_watermark(read_events_stream(spark, src), ["event_id"]),
            "append",
            ckpt,
        )
    return out.select("event_id", "user_id", "event_type")


STREAMING_DEDUP_WATERMARK_SQL = """
SELECT DISTINCT event_id, user_id, event_type
FROM events
"""


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks within 1h before each error, per
    user), drained availableNow and checked against the identical batch
    join in DuckDB — the stream-stream/batch unification gate."""
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        stream = read_events_stream(spark, src)
        clicks = stream.filter(F.col("event_type") == "click")
        errors = stream.filter(F.col("event_type") == "error")
        out = drain(streaming_click_error_join(clicks, errors, "inner"), "append", ckpt)
    return out.select("c_user", "click_ts", "click_id", "error_ts", "error_id")


STREAMING_INTERVAL_JOIN_SQL = """
SELECT c.user_id AS c_user,
       c.ts AS click_ts,
       c.event_id AS click_id,
       e.ts AS error_ts,
       e.event_id AS error_id
FROM events c JOIN events e
  ON c.user_id = e.user_id
 AND c.event_type = 'click' AND e.event_type = 'error'
 AND c.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
"""


def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join (every click, with the errors the same
    user raised within the following hour, or NULLs once the watermark
    proves none can arrive), drained availableNow and checked against the
    identical batch LEFT JOIN in DuckDB.

    Null-padded rows only emit once the watermark proves no match can
    arrive, so the source carries the far-future rows of
    ``_outer_join_sentinels``, filtered from the result.
    """
    events = load_table(spark, sf_dir, "events")
    landing = events.unionByName(_outer_join_sentinels(events))
    with _landed(landing, n_files=8) as (src, ckpt):
        stream = read_events_stream(spark, src)
        clicks = stream.filter(F.col("event_type") == "click")
        errors = stream.filter(F.col("event_type") == "error")
        out = drain(streaming_click_error_join(clicks, errors, "leftOuter"), "append", ckpt)
    return out.filter(F.col("c_user") >= 0).select(
        "c_user", "click_ts", "click_id", "error_ts", "error_id"
    )


STREAMING_LEFT_JOIN_SQL = """
SELECT c.user_id AS c_user,
       c.ts AS click_ts,
       c.event_id AS click_id,
       e.ts AS error_ts,
       e.event_id AS error_id
FROM events c LEFT JOIN events e
  ON c.user_id = e.user_id
 AND e.event_type = 'error'
 AND e.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
"""


def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join drained availableNow and checked
    against the identical batch FULL JOIN in DuckDB: matched pairs, the
    null-padded click tail (clicks that never errored), AND the
    null-padded error tail (errors no click explains) — both tails are
    watermark-driven, so the source carries the same far-future
    sentinels as the left join, filtered from both sides of the result.
    Completes the stream-stream join family: inner (interval), left
    outer, full outer.
    """
    events = load_table(spark, sf_dir, "events")
    landing = events.unionByName(_outer_join_sentinels(events))
    with _landed(landing, n_files=8) as (src, ckpt):
        stream = read_events_stream(spark, src)
        clicks = stream.filter(F.col("event_type") == "click")
        errors = stream.filter(F.col("event_type") == "error")
        out = drain(streaming_click_error_join(clicks, errors, "fullOuter"), "append", ckpt)
    user = F.coalesce(F.col("c_user"), F.col("e_user"))
    return out.filter(user >= 0).select(
        user.alias("user"), "click_ts", "click_id", "error_ts", "error_id"
    )


STREAMING_FULL_OUTER_JOIN_SQL = """
SELECT COALESCE(c.user_id, e.user_id) AS user,
       c.ts AS click_ts,
       c.event_id AS click_id,
       e.ts AS error_ts,
       e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND e.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
"""


def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization run through Structured Streaming
    (session_window + watermark, the merging-state operator) and checked
    against the SAME DuckDB oracle as the batch form — single-micro-batch
    availableNow run so the watermark cannot drop sessions (multi-batch
    session merging is the state store's concern; batch equivalence is the
    contract here)."""
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        stream = read_events_stream(spark, src).withWatermark("ts", WATERMARK)
        return drain(E.session_agg(stream), "complete", ckpt)


STREAMING_SESSION_SQL = EVENTS_SESSION_SQL


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: purchase events streamed through a
    broadcast join against a batch-computed per-user spend dimension —
    the canonical 'enrich the firehose with a slowly-changing dim' shape.
    Stateless streaming (no watermark/state store), so stream output ≡ the
    batch join, which is the DuckDB oracle."""
    events = load_table(spark, sf_dir, "events")
    user_spend = events.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("user_total"),
        F.count(F.lit(1)).alias("user_events"),
    )
    with _landed(events) as (src, ckpt):
        stream = read_events_stream(spark, src).filter(F.col("event_type") == "purchase")
        out = drain(streaming_static_enrich(stream, user_spend, ["user_id"]), "append", ckpt)
    return out.select("event_id", "user_id", "ts", "value", "user_total", "user_events")


STREAMING_ENRICH_SQL = """
WITH spend AS (
    SELECT user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS user_total,
           COUNT(*) AS user_events
    FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.ts, e.value, s.user_total, s.user_events
FROM events e JOIN spend s USING (user_id)
WHERE e.event_type = 'purchase'
"""


def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals through ``transformWithStateInPandas`` —
    Spark 4's arbitrary-state API v2 (streaming/tws.py). Single-batch
    availableNow drain, so each user's final snapshot equals the batch
    aggregate: the DuckDB oracle. Registered only when protobuf is
    importable — the v2 state protocol serializes state over protobuf, and
    the runtime gate keeps the registry honest in stripped containers."""
    from candyspark.streaming.tws import streaming_running_totals

    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        out = drain(
            streaming_running_totals(read_events_stream(spark, src)), "update", ckpt
        )
    return out.select(
        "user_id",
        "n_events",
        (F.col("total_cents").cast("double") / F.lit(100.0)).alias("total_value"),
    ).orderBy("user_id")


STREAMING_RUNNING_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS DOUBLE)
           AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""

# transformWithStateInPandas (state API v2) speaks protobuf between the JVM
# and the Python state server; keep its query only where that runs.
try:  # pragma: no cover - environment probe
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401
except ImportError:
    del q_streaming_running_totals


def q_synthetic_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (sources/pydatasource.py): 20k rows
    generated across 8 explicit input partitions, aggregated per event
    type. The oracle re-derives every row from the same md5 formula over
    ``range(20000)`` — proving the source's content, partition planning,
    and the aggregate in one hash. ``sf_dir`` is unused by construction
    (the source IS the data)."""
    from candyspark.sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 20000)
        .option("partitions", 8)
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


SYNTHETIC_SOURCE_SQL = """
WITH seq AS (SELECT unnest(range(20000)) AS i),
h AS (
    SELECT CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) AS h
    FROM seq
)
SELECT ['click', 'view', 'purchase', 'error'][(h % 4) + 1] AS event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT h % 97) AS n_users,
       CAST(ROUND(SUM(CAST(((h // 4) % 100000) / 100.0 AS DECIMAL(12,2))), 2) AS DOUBLE)
           AS total_value
FROM h
GROUP BY 1
ORDER BY event_type
"""


def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-fidelity gate: documents → ORC → read back → JSON-lines →
    read back (explicit schema), then aggregate per (lang, source). The
    oracle aggregates the ORIGINAL parquet directly, so any row lost or
    text mangled by either roundtrip breaks the hash. JSONL rather than
    the reference's multiLine arrays because JSONL splits by line at scale
    (a multiLine array file is one task regardless of size — SURVEY.md
    §2.1 S2). Both dirs are scoped to the call: the small result is
    materialized with ``localCheckpoint()`` before they are removed."""
    from candyspark.sources.readers import load_jsonl, load_orc
    from candyspark.sources.sinks import save_jsonl, save_orc

    d = load_table(spark, sf_dir, "documents")
    orc_dir = tempfile.mkdtemp(prefix="candyspark_orc_")
    jsonl_dir = tempfile.mkdtemp(prefix="candyspark_jsonl_")
    try:
        save_orc(d, orc_dir)
        via_orc = load_orc(spark, orc_dir)
        save_jsonl(via_orc, jsonl_dir)
        back = load_jsonl(spark, jsonl_dir, schema=via_orc.schema)
        return (
            back.groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("num_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(F.length("text")).alias("total_text_len"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .orderBy("lang", "source")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(orc_dir, ignore_errors=True)
        shutil.rmtree(jsonl_dir, ignore_errors=True)


FORMAT_ROUNDTRIP_SQL = """
SELECT lang, source,
       COUNT(*) AS num_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_len,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


#: k-means clusters and Lloyd rounds, for the query and its unrolled oracle
KMEANS_K, KMEANS_ITERS = 8, 3


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=8, 3
    iterations, deterministic seeding/tie-breaks — operators/clustering).
    Returns per-cluster population and centroid L2 norm.

    Hash-checked (was rows-only through round 2): Lloyd's BOUNDED
    iteration unrolls into one SQL CTE chain per round (the markov/
    set-cover precedent), and the round-3 exact-sum centroid mean in
    operators/clustering._recompute_centroids makes every round's
    centroids bit-identical across engines — quantized decimal sums, one
    IEEE division, one float32 snap; distances are the shared fixed-order
    fold (_L2SQ). Tests additionally pin exact assignments against a
    same-semantics numpy reference and repartition-invariance."""
    from candyspark.operators.clustering import kmeans
    from candyspark.operators.similarity import norm

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    assigned, centroids = kmeans(emb, k=KMEANS_K, max_iter=KMEANS_ITERS)
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("num_vectors"))
    return (
        sizes.join(centroids, "cluster_id")
        .select(
            "cluster_id",
            "num_vectors",
            snap_round(norm(F.col("c_vec")), 4).alias("centroid_norm"),
        )
        .orderBy("cluster_id")
    )


def _kmeans_clusters_sql() -> str:
    """Unrolled Lloyd oracle: one (assign, mean) CTE pair per iteration,
    mirroring operators/clustering step for step — the same quantized
    decimal sums, the same single division, the same float32 (REAL) snap,
    the same fixed-order L2 fold and lowest-id tie-break."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"cents_0 AS (SELECT vec_id AS cluster_id, v AS c_vec FROM e "
        f"WHERE vec_id < {KMEANS_K})",
    ]
    prev = "cents_0"
    for r in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""a{r} AS (
    SELECT vec_id, v, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN {prev} c
    ) WHERE crank = 1
)"""
        )
        parts.append(
            f"""m{r} AS (
    SELECT cluster_id, pos,
           SUM(ROUND(CAST(v[pos] AS DECIMAL(28,12)), 10)) AS s,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM a{r} CROSS JOIN (SELECT unnest(range(1, 65)) AS pos)
    GROUP BY cluster_id, pos
)"""
        )
        parts.append(
            f"""cents_{r} AS (
    SELECT cluster_id,
           list(CAST(CAST(CAST(s AS DOUBLE) / m AS REAL) AS DOUBLE)
                ORDER BY pos) AS c_vec
    FROM m{r} GROUP BY cluster_id
)"""
        )
        prev = f"cents_{r}"
    norm_sql = (
        "SQRT(list_reduce(list_transform(range(1, 65), "
        "i -> c.c_vec[i] * c.c_vec[i]), (a, b) -> a + b))"
    )
    return f"""
WITH {','.join(parts)},
a_final AS (
    SELECT vec_id, cluster_id FROM (
        SELECT e.vec_id, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN {prev} c
    ) WHERE crank = 1
)
SELECT s.cluster_id, s.num_vectors,
       CAST(ROUND(CAST({norm_sql} AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS centroid_norm
FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS num_vectors
      FROM a_final GROUP BY cluster_id) s
JOIN {prev} c USING (cluster_id)
ORDER BY s.cluster_id
"""


KMEANS_CLUSTERS_SQL = _kmeans_clusters_sql()


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-sequenced conversion funnel over events: users who viewed,
    then clicked AFTER their first view, then purchased AFTER that first
    qualifying click — the product-analytics staple the reference's batch
    summaries can't express.

    Scale: three per-user aggregates, each over a type-filtered subset
    (the filter pushes to the scan), all shuffling on user_id so AQE plans
    them as one partitioning chain; each stage's input is the PREVIOUS
    stage's survivors joined to one event type — monotonically shrinking.
    """
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    def _stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("num_users")).select(
            F.lit(name).alias("stage"), "num_users"
        )

    return (
        _stage(v, "1_view")
        .unionByName(_stage(c, "2_click_after_view"))
        .unionByName(_stage(p, "3_purchase_after_click"))
        .orderBy("stage")
    )


EVENT_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
  GROUP BY e.user_id
)
SELECT stage, num_users FROM (
  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS num_users FROM v
  UNION ALL
  SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
  UNION ALL
  SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p
)
ORDER BY stage
"""


def q_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel with a TIME BUDGET per step: click within 24 h
    of the first view, purchase within 24 h of that qualifying click —
    the attribution-window form real funnel metrics use (an unbounded
    funnel inflates conversion with returns that happen weeks later).
    Same monotonically-shrinking per-user aggregate chain as
    q_event_funnel; the bound is one extra scan-stage predicate, so the
    plan shape (and its 100-TB posture) is unchanged."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr("INTERVAL 24 HOURS")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("v_ts")) & (F.col("ts") <= F.col("v_ts") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("c_ts")) & (F.col("ts") <= F.col("c_ts") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )

    def _stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("num_users")).select(
            F.lit(name).alias("stage"), "num_users"
        )

    return (
        _stage(v, "1_view")
        .unionByName(_stage(c, "2_click_within_24h"))
        .unionByName(_stage(p, "3_purchase_within_24h"))
        .orderBy("stage")
    )


FUNNEL_TIMEBOUND_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL '24 hours'
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL '24 hours'
  GROUP BY e.user_id
)
SELECT stage, num_users FROM (
  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS num_users FROM v
  UNION ALL
  SELECT '2_click_within_24h', CAST(COUNT(*) AS BIGINT) FROM c
  UNION ALL
  SELECT '3_purchase_within_24h', CAST(COUNT(*) AS BIGINT) FROM p
)
ORDER BY stage
"""


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency dedup — keep each user's LATEST event (row_number over
    (user) ordered by ts desc, tie-break event_id desc): the 'current
    state from a change log' staple, the one-shuffle window twin of
    dropDuplicates-by-recency (which offers no ordering guarantee)."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
        .orderBy("user_id")
    )


LATEST_PER_KEY_SQL = """
SELECT user_id, event_id, event_type, ts
FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: for each cohort week (a user's first
    event week, ISO-Monday truncation — Spark and DuckDB agree), how many
    of its users were active again k weeks later. Two aggregates
    (first-week per user; distinct user-weeks) and one join — the cohort
    matrix every growth dashboard needs.

    Week grain, not month: the events fixture spans a single calendar
    month, so monthly cohorts collapse to one (cohort, 0) row and the gate
    certifies nothing (round-2 verdict's vacuous-gate finding). Weekly
    cohorts give a real ~5×5 retention triangle; the operator's logic is
    grain-agnostic. weeks_since is an exact day-diff ÷ 7 (both engines'
    week-truncated dates are Mondays, so the diff is always a multiple).

    Scale: both aggregates shuffle on user_id, the join reuses that
    partitioning; the output is |weeks|² rows regardless of input size.
    """
    e = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts").cast("date")
    first = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    active = e.select("user_id", week.alias("active_week")).distinct()
    return (
        first.join(active, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .withColumn(
            "weeks_since",
            (F.datediff("active_week", "cohort_week") / 7).cast("int"),
        )
        .select("cohort_week", "weeks_since", "active_users")
        .orderBy("cohort_week", "weeks_since")
    )


RETENTION_COHORTS_SQL = """
WITH first AS (
  SELECT user_id, MIN(CAST(DATE_TRUNC('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT cohort_week,
       CAST(DATEDIFF('day', cohort_week, active_week) // 7 AS INTEGER) AS weeks_since,
       COUNT(DISTINCT user_id) AS active_users
FROM first JOIN active USING (user_id)
GROUP BY cohort_week, active_week
ORDER BY cohort_week, weeks_since
"""


def q_triplet_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet generation over the embeddings table:
    for each anchor, a same-label positive and a different-label negative,
    both chosen by DETERMINISTIC pseudo-random pairing (md5-rank circular
    neighbors) — the repeatable, re-shard-proof form of "sample a
    positive/negative per anchor" that rand()-based samplers can't give a
    distributed engine (per-task RNG differs per partitioning, and two
    engines never agree; same discipline as plans/corpus.q_dataset_split).

    Positive: the next vector in md5 order WITHIN the label (circular, so
    every anchor in a ≥2-member label gets one). Negative: the vector
    ⌊n/2⌋ positions away in GLOBAL md5 order — maximally decorrelated from
    the anchor's hash neighborhood — kept only when its label differs
    (dropped pairs are the expected ~1/n_labels; at scale re-probe p+k
    offsets). No doc-id contiguity is assumed anywhere.

    Scale: the GLOBAL md5 rank is computed distributed — two-phase ranking
    (row_number within md5-prefix buckets + cumulative bucket offsets over
    a ≤256-row aggregate broadcast back), never a single-partition window,
    because the bucket key IS a prefix of the sort key so bucket-major
    order equals global order. Both windows run over the id+label
    projection — never the vectors — and the one self-join keys on the
    derived position; the positions relation is materialized once.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    hashed = emb.withColumn("h", F.md5(F.col("vec_id").cast("string"))).withColumn(
        "b", F.substring("h", 1, 2)
    )
    wb = Window.partitionBy("b").orderBy("h", "vec_id")
    bucket_counts = hashed.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_counts.select(
        "b", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    n_total = bucket_counts.agg(F.sum("cnt").cast("long").alias("n"))
    wl = Window.partitionBy("label").orderBy("h", "vec_id")
    wl_full = wl.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pos = (
        hashed.withColumn("rb", F.row_number().over(wb))
        .join(F.broadcast(offsets), "b")
        .crossJoin(F.broadcast(n_total))
        .withColumn("p", F.col("off") + F.col("rb") - 1)
        .withColumn(
            "pos_id",
            F.coalesce(
                F.lead("vec_id").over(wl), F.first("vec_id").over(wl_full)
            ),
        )
        .select("vec_id", "label", "p", "n", "pos_id")
        .localCheckpoint()
    )
    neg = pos.select(
        F.col("p").alias("np"),
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
    )
    return (
        pos.join(
            neg,
            ((F.col("p") + F.floor(F.col("n") / 2)) % F.col("n")) == F.col("np"),
        )
        .filter(
            (F.col("neg_label") != F.col("label"))
            & (F.col("pos_id") != F.col("vec_id"))
        )
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            "pos_id",
            "neg_id",
            "neg_label",
        )
        .orderBy("anchor_id")
    )


TRIPLET_SAMPLING_SQL = """
WITH base AS (
    SELECT vec_id, label,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS p,
           COUNT(*) OVER () AS n,
           COALESCE(
             LEAD(vec_id) OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id),
             FIRST_VALUE(vec_id) OVER (PARTITION BY label
                                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND UNBOUNDED FOLLOWING)
           ) AS pos_id
    FROM embeddings
)
SELECT a.vec_id AS anchor_id,
       a.label AS anchor_label,
       a.pos_id,
       b.vec_id AS neg_id,
       b.label AS neg_label
FROM base a
JOIN base b ON (a.p + CAST(FLOOR(a.n / 2) AS BIGINT)) % a.n = b.p
WHERE b.label != a.label AND a.pos_id != a.vec_id
ORDER BY anchor_id
"""


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of part brand against return rate —
    the ML feature-engineering transform that replaces a high-cardinality
    categorical with its target mean while excluding each row's OWN label
    (plain per-category means leak the target into the feature; LOO is
    the standard fix). Encoded per line item: (Σ_brand y − yᵢ)/(n_brand−1).

    All sums are exact integers via ONE brand-partitioned window (no
    second aggregate-and-join pass); the single divide snaps at 6 dp.
    Singleton brands encode NULL (0/0) rather than a leaked value.
    Scale: lineitem⨝part shuffles once on partkey, the window once on
    brand — both keyed exchanges; output stays at line grain (the
    training-set transform, not a report).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_returnflag"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    wb = Window.partitionBy("p_brand")
    enc = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("y", y)
        .withColumn("brand_sum", F.sum("y").over(wb))
        .withColumn("brand_n", F.count(F.lit(1)).over(wb))
    )
    loo = (F.col("brand_sum") - F.col("y")).cast("double") / (
        F.col("brand_n") - 1
    ).cast("double")
    return (
        enc.select(
            "l_orderkey",
            "l_linenumber",
            F.col("p_brand").alias("brand"),
            F.col("y").cast("int").alias("returned"),
            snap_round(
                F.when(F.col("brand_n") > 1, loo), 6
            ).alias("brand_return_loo"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


TARGET_ENCODE_LOO_SQL = """
WITH enc AS (
    SELECT l_orderkey, l_linenumber, p_brand AS brand,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
           SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               OVER (PARTITION BY p_brand) AS brand_sum,
           COUNT(*) OVER (PARTITION BY p_brand) AS brand_n
    FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT l_orderkey, l_linenumber, brand,
       CAST(y AS INTEGER) AS returned,
       CASE WHEN brand_n > 1 THEN
         CAST(ROUND(CAST(CAST(brand_sum - y AS DOUBLE) / (brand_n - 1)
                         AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS brand_return_loo
FROM enc
ORDER BY l_orderkey, l_linenumber
"""


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): each document's token set maps
    into a fixed 1024-bucket index space via the engine's cross-engine
    hash (md5-prefix → integer, the dataset_split discipline — NEVER
    rand() or engine-specific hash functions, which no two engines share).
    Output is the sorted distinct index array per document — the sparse
    feature vector a downstream linear model consumes — plus the active
    dimension count and collision count (distinct tokens − distinct
    buckets, the quantity the trick trades for its fixed width).

    Scale: tokenize → explode → per-(doc, bucket) dedup inside ONE
    doc-keyed aggregate (collect_set); no vocabulary table, no global
    state — the whole point of hashing features at 100 TB.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    bucket = (X.char_hash32("term") % 1024).cast("int")
    return (
        tok.withColumn("b", bucket)
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_set("b")).alias("feature_idx"),
            F.countDistinct("term").alias("n_terms"),
        )
        .select(
            "doc_id",
            "feature_idx",
            F.size("feature_idx").alias("n_features"),
            (F.col("n_terms") - F.size("feature_idx")).cast("long").alias("n_collisions"),
        )
        .orderBy("doc_id")
    )


FEATURE_HASHING_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
b AS (
    SELECT doc_id, term,
           CAST({_HASH32.format(s="term")} % 1024 AS INTEGER) AS b
    FROM tok
)
SELECT doc_id,
       list_sort(list_distinct(list(b))) AS feature_idx,
       len(list_distinct(list(b))) AS n_features,
       CAST(COUNT(DISTINCT term) - len(list_distinct(list(b))) AS BIGINT)
         AS n_collisions
FROM b
GROUP BY doc_id
ORDER BY doc_id
"""


# --- first conversion after signup -------------------------------------------


def signup_times(events: DataFrame) -> DataFrame:
    """``(user_id, signup_ts)``: each user's first signup, keyed on user_id."""
    return (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )


def first_conversions(events: DataFrame, signups: DataFrame) -> DataFrame:
    """``(user_id, signup_ts, conv_ts)``: each signed-up user's FIRST
    purchase at or after signup. The signup and purchase reductions key on
    user_id and join keyed; a user who never converted stays, with a NULL
    conv_ts, and counts in every denominator."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts")
    )
    return (
        signups.join(
            purchases,
            (F.col("user_id") == F.col("pu")) & (F.col("p_ts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("conv_ts"))
    )


def censored_conversions(events: DataFrame, signups: DataFrame) -> DataFrame:
    """:func:`first_conversions` with the table horizon ``end_ts`` broadcast
    on: the survival form, where a user who never converted is censored at
    the horizon (:func:`time_to_event`)."""
    horizon = events.agg(F.max("ts").alias("end_ts"))
    return first_conversions(events, signups).crossJoin(F.broadcast(horizon))


def days_since_signup(ts: str) -> Column:
    """Whole days from signup_ts to ``ts``: exact integer days from exact
    epoch microseconds."""
    return F.floor(
        (F.unix_micros(ts) - F.unix_micros("signup_ts")) / F.lit(86400000000)
    )


def time_to_event() -> Column:
    """Days from signup to the first conversion, or to the horizon for a
    censored user (over :func:`censored_conversions`)."""
    return F.when(
        F.col("conv_ts").isNotNull(), days_since_signup("conv_ts")
    ).otherwise(days_since_signup("end_ts"))


#: The oracle's ``signups``, ``conversions`` (user_id, signup_ts, conv_ts)
#: and ``horizon`` CTEs (:func:`first_conversions`, :func:`censored_conversions`).
FIRST_CONVERSIONS_SQL = """signups AS (
    SELECT user_id, MIN(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conversions AS (
    SELECT s.user_id, s.signup_ts, MIN(p.ts) AS conv_ts
    FROM signups s
    LEFT JOIN events p
      ON p.user_id = s.user_id AND p.event_type = 'purchase' AND p.ts >= s.signup_ts
    GROUP BY s.user_id, s.signup_ts
),
horizon AS (SELECT MAX(ts) AS end_ts FROM events)"""
#: :func:`time_to_event` over ``conversions CROSS JOIN horizon``.
TIME_TO_EVENT_SQL = """CASE WHEN conv_ts IS NOT NULL
                THEN FLOOR((epoch_us(conv_ts) - epoch_us(signup_ts)) / 86400000000)
                ELSE FLOOR((epoch_us(end_ts) - epoch_us(signup_ts)) / 86400000000)
           END"""


def at_risk(left: Column) -> Column:
    """Subjects still at risk on day t: everyone, minus those who left the
    risk set on an EARLIER day (``left`` counts a day's leavers: events
    plus censorings). Exact integers from a cumulative window in t order
    over the calendar-bounded per-day frame."""
    before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return F.sum(left).over(Window.partitionBy()) - F.coalesce(
        F.sum(left).over(before), F.lit(0)
    )


def risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(t, d, c, n_risk)``: per day since signup, the users who converted
    (d) and were censored (c) that day, and the :func:`at_risk` count —
    the right-censored time-to-first-purchase relation under the survival
    family (:func:`censored_conversions`, :func:`time_to_event`). Scale: two
    user_id reductions and one keyed join; everything after is
    calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    per_user = censored_conversions(e, signup_times(e)).select(
        time_to_event().alias("t"),
        F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("event"),
    )
    daily = per_user.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(1 - F.col("event")).cast("long").alias("c"),
    )
    return daily.withColumn("n_risk", at_risk(F.col("d") + F.col("c")))


def at_risk_sql(left: str) -> str:
    """:func:`at_risk`, DuckDB form."""
    return f"""SUM({left}) OVER () - COALESCE(SUM({left}) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"""


#: :func:`risk_table`, DuckDB form: the conversion CTEs, ``per_user``,
#: ``daily`` and ``risked`` (t, d, c, n_risk).
RISK_TABLE_SQL = f"""{FIRST_CONVERSIONS_SQL},
per_user AS (
    SELECT user_id, {TIME_TO_EVENT_SQL} AS t,
           CASE WHEN conv_ts IS NOT NULL THEN 1 ELSE 0 END AS event
    FROM conversions CROSS JOIN horizon
),
daily AS (
    SELECT t, CAST(SUM(event) AS BIGINT) AS d,
           CAST(SUM(1 - event) AS BIGINT) AS c
    FROM per_user GROUP BY t
),
risked AS (
    SELECT t, d, c, {at_risk_sql("d + c")} AS n_risk
    FROM daily
)"""


def q_conversion_lag_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert survival curve: of users who signed up, the share
    whose FIRST subsequent purchase landed within k days (k = 0..7) — the
    activation-latency curve growth teams read before touching onboarding
    (the lag-resolved deepening of q_event_funnel's binary conversion).

    Lag is :func:`days_since_signup` over :func:`first_conversions`; each
    k's share is a conditional count over the per-user lag relation (8
    bands × one conditional-agg pass — the quality_report
    one-scan-many-checks discipline, via explode of the band sequence on a
    per-user frame).
    """
    e = load_table(spark, sf_dir, "events")
    first_conv = first_conversions(e, signup_times(e)).select(
        "user_id", days_since_signup("conv_ts").alias("lag_days")
    )
    bands = first_conv.select(
        "lag_days", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k")
    )
    return (
        bands.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum(
                F.when(
                    F.col("lag_days").isNotNull() & (F.col("lag_days") <= F.col("k")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_converted"),
        )
        .select(
            F.col("k").cast("int").alias("within_days"),
            "n_signups",
            "n_converted",
            snap_round(
                F.col("n_converted") / F.col("n_signups").cast("double"), 6
            ).alias("conversion_share"),
        )
        .orderBy("within_days")
    )


CONVERSION_LAG_CURVE_SQL = f"""
WITH {FIRST_CONVERSIONS_SQL},
first_conv AS (
    SELECT user_id,
           FLOOR((epoch_us(conv_ts) - epoch_us(signup_ts)) / 86400000000) AS lag_days
    FROM conversions
),
bands AS (
    SELECT lag_days, unnest(generate_series(0, 7)) AS k FROM first_conv
)
SELECT CAST(k AS INTEGER) AS within_days,
       COUNT(*) AS n_signups,
       CAST(SUM(CASE WHEN lag_days IS NOT NULL AND lag_days <= k THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted,
       CAST(ROUND(CAST(SUM(CASE WHEN lag_days IS NOT NULL AND lag_days <= k
                                THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE)
         AS conversion_share
FROM bands
GROUP BY k
ORDER BY within_days
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation: confusion matrix of the heuristic language
    guesser against the labeled lang column, with per-cell precision
    (share of the predicted column) and recall (share of the true row) —
    the model-quality report a data pipeline runs on every heuristic
    gate before trusting it to filter a corpus.

    All counts exact; shares divide within two window families over the
    ≤(langs+1)² matrix. One scan, one (lang, guess) aggregate.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    m = (
        d.select("lang", X.lang_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    row_w = Window.partitionBy("lang")
    col_w = Window.partitionBy("lang_guess")
    return (
        m.select(
            "lang",
            "lang_guess",
            "n_docs",
            snap_round(F.col("n_docs") / F.sum("n_docs").over(row_w), 6).alias(
                "recall_share"
            ),
            snap_round(F.col("n_docs") / F.sum("n_docs").over(col_w), 6).alias(
                "precision_share"
            ),
        )
        .orderBy("lang", "lang_guess")
    )


LANGID_CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL}),
m AS (
    SELECT lang, lang_guess, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, lang_guess
)
SELECT lang, lang_guess, n_docs,
       CAST(ROUND(CAST(CAST(n_docs AS DOUBLE)
                       / SUM(n_docs) OVER (PARTITION BY lang)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS recall_share,
       CAST(ROUND(CAST(CAST(n_docs AS DOUBLE)
                       / SUM(n_docs) OVER (PARTITION BY lang_guess)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS precision_share
FROM m
ORDER BY lang, lang_guess
"""


def q_auc_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-metric evaluation: AUC of the quality score as a separator
    of English vs non-English documents, computed by the exact
    Mann-Whitney pair formulation WITH tie credit (Σ over positives of
    negatives-below + ½·negatives-tied, over P·N) — never a global
    per-row rank: the score is already 4-dp snapped, so grouping by score
    yields a ≤10⁴-row distribution and every window runs over THAT.
    The standard trick for rank statistics at 100 TB: aggregate to the
    (bounded) score distribution first, then do rank math on the
    distribution, not the rows.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        X.quality_score("text").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    dist = scored.groupBy("score").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_neg"),
    )
    below = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    whole = Window.partitionBy()
    contrib = dist.select(
        "n_pos",
        "n_neg",
        (
            F.col("n_pos")
            * (
                F.coalesce(F.sum("n_neg").over(below), F.lit(0)).cast("double")
                + 0.5 * F.col("n_neg").cast("double")
            )
        ).alias("u"),
        F.sum("n_pos").over(whole).alias("p_total"),
        F.sum("n_neg").over(whole).alias("n_total"),
    )
    return contrib.groupBy("p_total", "n_total").agg(
        F.sum("u").alias("u_sum")
    ).select(
        F.col("p_total").alias("n_english"),
        F.col("n_total").alias("n_other"),
        snap_round(
            F.col("u_sum") / (F.col("p_total") * F.col("n_total")).cast("double"), 6
        ).alias("auc"),
    )


AUC_QUALITY_LANGID_SQL = f"""
WITH stats AS ({TEXT_STATS_SQL}),
labeled AS (
    SELECT s.quality_score AS score,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM stats s JOIN documents d USING (doc_id)
),
dist AS (
    SELECT score,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(1 - pos) AS BIGINT) AS n_neg
    FROM labeled GROUP BY score
),
contrib AS (
    SELECT n_pos, n_neg,
           n_pos * (CAST(COALESCE(SUM(n_neg) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
                    + 0.5 * n_neg) AS u,
           SUM(n_pos) OVER () AS p_total,
           SUM(n_neg) OVER () AS n_total
    FROM dist
)
SELECT CAST(p_total AS BIGINT) AS n_english,
       CAST(n_total AS BIGINT) AS n_other,
       CAST(ROUND(CAST(SUM(u) / (p_total * CAST(n_total AS DOUBLE))
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS auc
FROM contrib
GROUP BY p_total, n_total
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of embedding vectors (per-vector
    absmax scale, q = round(x/scale) ∈ [−127, 127]) plus the exact mean
    reconstruction error — the vector-compression pass an embedding store
    runs before serving ANN at scale (4× smaller, cache-resident).

    Everything is array HOFs in the scan stage (zero shuffles): absmax by
    fold, quantize by transform, and the per-element |x − q·scale| error
    snapped to DECIMAL BEFORE the fold so the error sum is exact — a raw
    double fold would be evaluation-order-dependent. The x/scale double
    is snapped through a wide decimal before rounding so both engines
    round identical values at the int boundary.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    absmax = F.aggregate(
        x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
    )
    scale = absmax / 127.0
    # the raw scale column must NOT share the output alias "scale": a later
    # item in the same select list resolves the name against the earlier
    # ALIAS (Spark lateral column aliases), silently feeding the SNAPPED
    # scale into the error fold (caught by the oracle hash).
    q = F.transform(
        x,
        lambda v: F.round((v / F.col("scale_raw")).cast("decimal(18,9)"), 0).cast(
            "int"
        ),
    )
    err = F.aggregate(
        F.zip_with(
            x,
            F.col("q"),
            lambda v, qi: F.abs(v - qi.cast("double") * F.col("scale_raw"))
            .cast("decimal(18,9)"),
        ),
        F.lit(0).cast("decimal(28,9)"),
        lambda acc, d: (acc + d).cast("decimal(28,9)"),
    )
    return (
        e.withColumn("scale_raw", scale)
        .withColumn("q", q)
        .select(
            "vec_id",
            snap_round(F.col("scale_raw"), 6).alias("scale"),
            "q",
            snap_round(
                err.cast("double") / F.size("embedding"), 6
            ).alias("mean_abs_err"),
        )
        .orderBy("vec_id")
    )


EMBEDDING_QUANTIZE_SQL = """
WITH s AS (
    SELECT vec_id,
           list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
           list_max(list_transform(embedding, v -> ABS(CAST(v AS DOUBLE)))) / 127.0
             AS scale
    FROM embeddings
),
qz AS (
    SELECT vec_id, x, scale,
           list_transform(x, v -> CAST(ROUND(CAST(v / scale AS DECIMAL(18,9)), 0)
                                       AS INTEGER)) AS q
    FROM s
)
SELECT vec_id,
       CAST(ROUND(CAST(scale AS DECIMAL(28,8)), 6) AS DOUBLE) AS scale,
       q,
       CAST(ROUND(CAST(
         CAST(list_sum(list_transform(range(1, len(x) + 1),
                i -> CAST(ABS(x[i] - q[i] * scale) AS DECIMAL(18,9)))) AS DOUBLE)
         / len(x) AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_abs_err
FROM qz
ORDER BY vec_id
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of prices across brands: each line's price is
    replaced by the GLOBAL price-distribution value at the same within-brand
    rank — the cross-group comparability transform (the batch-effect
    remover of expression arrays, the score normalizer of federated
    feature pipelines). A brand whose prices run high no longer dominates
    a shared threshold.

    Within-brand position = cume_dist (exact count ratio, tie-stable);
    the global reference is a 21-point interpolated quantile grid (one
    buffered aggregate, 1-row broadcast); the mapped value linearly
    interpolates inside the grid cell. Doubles are identical in both
    engines at every step; one snap at the edge. Scale: one brand-keyed
    window over the joined line grain; the grid is approx_percentile-
    swappable at 100 TB like every other cutoff in this engine.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # two consumers (grid aggregate + ranked pass) re-derive the broadcast
    # join rather than materializing it: the join is a broadcast-hash over a
    # dim (cheap to repeat), while checkpointing the line grain costs more
    # than it saves (measured 11.4 s vs 9.9 s at sf0.1). At 100 TB flip to a
    # persisted table — rescanning a fact twice is the wrong trade there.
    lines = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).select(
        "l_orderkey", "l_linenumber", "p_brand", "l_extendedprice"
    )
    # the 21-point grid extracts through the distributed order-statistic
    # operator (operators/quantiles.exact_quantiles — value-identical to
    # F.percentile, no single-task value buffer; measured 9.9→~6 s here)
    from candyspark.operators.quantiles import exact_quantiles

    grid = exact_quantiles(
        spark, lines, "l_extendedprice", [i / 20.0 for i in range(21)]
    ).agg(F.array_sort(F.collect_list(F.struct("p", "value"))).alias("pv")).select(
        F.transform("pv", lambda s: s["value"]).alias("grid")
    )
    w = Window.partitionBy("p_brand").orderBy("l_extendedprice")
    r = F.cume_dist().over(w)
    k = F.least(F.floor(r * 20), F.lit(19)).cast("int")
    t = r * 20 - k
    mapped = F.col("grid")[k] + t * (F.col("grid")[k + 1] - F.col("grid")[k])
    return (
        lines.crossJoin(F.broadcast(grid))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("p_brand").alias("brand"),
            "l_extendedprice",
            snap_round(mapped, 4).alias("normalized_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


QUANTILE_NORMALIZE_SQL = """
WITH lines AS (
    SELECT l_orderkey, l_linenumber, p_brand, l_extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
grid AS (
    SELECT quantile_cont(l_extendedprice,
        [0.0,0.05,0.1,0.15,0.2,0.25,0.3,0.35,0.4,0.45,0.5,
         0.55,0.6,0.65,0.7,0.75,0.8,0.85,0.9,0.95,1.0]) AS grid
    FROM lines
),
ranked AS (
    SELECT l_orderkey, l_linenumber, p_brand, l_extendedprice,
           cume_dist() OVER (PARTITION BY p_brand ORDER BY l_extendedprice) AS r
    FROM lines
)
SELECT l_orderkey, l_linenumber, p_brand AS brand, l_extendedprice,
       CAST(ROUND(CAST(
         grid[k + 1] + t * (grid[k + 2] - grid[k + 1])
         AS DECIMAL(28,8)), 4) AS DOUBLE) AS normalized_price
FROM (
    SELECT *,
           CAST(LEAST(FLOOR(r * 20), 19) AS INTEGER) AS k,
           r * 20 - CAST(LEAST(FLOOR(r * 20), 19) AS INTEGER) AS t
    FROM ranked CROSS JOIN grid
)
ORDER BY l_orderkey, l_linenumber
"""


_QN_GRID = [i / 20.0 for i in range(21)]
_QN_LO = [max(0.0, round(p - 0.01, 3)) for p in _QN_GRID]
_QN_HI = [min(1.0, round(p + 0.01, 3)) for p in _QN_GRID]
_QN_BAND = sorted(set(_QN_LO + _QN_HI))


def q_quantile_normalize_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_quantile_normalize's documented 100-TB grid swap-in as CODE
    (round-3 verdict item 5): the 21-point reference grid comes from
    Spark's mergeable ``percentile_approx`` sketch (accuracy 1000 — GK
    summaries, map-side combined, no holistic buffer) instead of the
    exact order-statistic extractor.

    Sketch values are engine-specific, so the driver check is an
    ACCURACY CONTRACT: per grid point p the query emits the exact
    interpolated quantiles at clamp(p±0.01) — hash-anchored against
    DuckDB's quantile_cont — plus a boolean asserting the sketch value
    landed inside that band. The guarantee is rank error ≤ 1e-3·n; the
    band allows 1%-of-rank, 10× slack, so the gate never flickers while
    a wrong prob/unmerged sketch still fails instantly. The oracle
    computes the same bands and expects TRUE throughout.
    """
    from candyspark.operators.quantiles import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    lines = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).select(
        "l_extendedprice"
    )
    bands = exact_quantiles(spark, lines, "l_extendedprice", _QN_BAND)
    approx = lines.agg(
        F.percentile_approx("l_extendedprice", _QN_GRID, 1000).alias("qa")
    )
    probe = spark.createDataFrame(
        [(i, _QN_GRID[i], _QN_LO[i], _QN_HI[i]) for i in range(21)],
        "i int, p double, lo_p double, hi_p double",
    )
    lo_j = bands.select(F.col("p").alias("lo_p"), F.col("value").alias("lo_v"))
    hi_j = bands.select(F.col("p").alias("hi_p"), F.col("value").alias("hi_v"))
    return (
        probe.join(F.broadcast(lo_j), "lo_p")
        .join(F.broadcast(hi_j), "hi_p")
        .crossJoin(F.broadcast(approx))
        .select(
            "p",
            snap_round(F.col("lo_v"), 4).alias("band_lo"),
            snap_round(F.col("hi_v"), 4).alias("band_hi"),
            (
                (F.col("qa")[F.col("i")] >= F.col("lo_v"))
                & (F.col("qa")[F.col("i")] <= F.col("hi_v"))
            ).alias("in_band"),
        )
        .orderBy("p")
    )


def _qn_approx_sql() -> str:
    band_list = ",".join(repr(p) for p in _QN_BAND)
    idx = {p: k + 1 for k, p in enumerate(_QN_BAND)}  # 1-based for DuckDB
    rows = ",".join(
        f"({_QN_GRID[i]!r}, {idx[_QN_LO[i]]}, {idx[_QN_HI[i]]})" for i in range(21)
    )
    return f"""
WITH lines AS (
    SELECT l_extendedprice FROM lineitem JOIN part ON l_partkey = p_partkey
),
b AS (SELECT quantile_cont(l_extendedprice, [{band_list}]) AS bv FROM lines),
g(p, li, hi) AS (VALUES {rows})
SELECT p,
       CAST(ROUND(CAST(bv[li] AS DECIMAL(28,8)), 4) AS DOUBLE) AS band_lo,
       CAST(ROUND(CAST(bv[hi] AS DECIMAL(28,8)), 4) AS DOUBLE) AS band_hi,
       TRUE AS in_band
FROM g CROSS JOIN b
ORDER BY p
"""


QUANTILE_NORMALIZE_APPROX_SQL = _qn_approx_sql()


def q_calibration_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table (calibration curve data): documents bucketed by
    fixed-width quality-score bins, each bin's observed English rate next
    to its mean score — the "is a higher score actually more English?"
    diagnostic that pairs with q_auc_quality_langid's single-number
    ranking answer.

    Fixed 0.1-wide bins (bounded cardinality — never data-driven
    cutpoints) keep it a single hash aggregate with map-side combine;
    the mean score per bin sums DECIMAL-snapped scores, so the aggregate
    is exact and order-independent.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    score = X.quality_score("text")
    binned = d.select(
        F.least(F.floor(score * 10), F.lit(9)).cast("int").alias("bin"),
        score.cast("decimal(8,4)").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score").alias("score_sum"),
            F.sum("pos").cast("long").alias("n_english"),
        )
        .select(
            "bin",
            "n_docs",
            snap_round(
                F.col("score_sum").cast("double") / F.col("n_docs"), 6
            ).alias("mean_score"),
            snap_round(
                F.col("n_english") / F.col("n_docs").cast("double"), 6
            ).alias("english_rate"),
        )
        .orderBy("bin")
    )


CALIBRATION_QUALITY_SQL = f"""
WITH stats AS ({TEXT_STATS_SQL}),
binned AS (
    SELECT CAST(LEAST(FLOOR(s.quality_score * 10), 9) AS INTEGER) AS bin,
           CAST(s.quality_score AS DECIMAL(8,4)) AS score,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM stats s JOIN documents d USING (doc_id)
)
SELECT bin, COUNT(*) AS n_docs,
       CAST(ROUND(CAST(CAST(SUM(score) AS DOUBLE) / COUNT(*) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS mean_score,
       CAST(ROUND(CAST(CAST(SUM(pos) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS english_rate
FROM binned
GROUP BY bin
ORDER BY bin
"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-first-purchase after
    signup WITH right-censoring: users whose observation ended (the
    table's last day) before converting are censored, not dropped —
    treating them as non-events is exactly the bias KM exists to remove
    (the deepening of q_conversion_lag_curve, which reports only
    uncensored shares).

    S(t) = Π_{event days ≤ t} (1 − d/n): the ordered product runs as
    exp(Σ ln(·)) over the ≤days-sized per-day aggregate with the per-day
    term snapped before the cumulative sum — identical doubles in both
    engines at every step. At-risk counts and scale: :func:`risk_table`.
    """
    upto = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        snap_round(
            F.log(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double")
            ),
            9,
        ),
    ).otherwise(F.lit(0.0))
    # d == n_risk means everyone still at risk converts that day: S drops to
    # exactly 0 from there on (ln(0) is the undefined form of the same fact).
    hit_zero = F.max(
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    ).over(upto)
    return (
        risk_table(spark, sf_dir)
        .withColumn("logterm", term)
        .withColumn(
            "survival",
            F.when(hit_zero == 1, F.lit(0.0)).otherwise(
                snap_round(F.exp(F.sum("logterm").over(upto)), 6)
            ),
        )
        .select(
            F.col("t").cast("int").alias("day"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            "survival",
        )
        .orderBy("day")
    )


KAPLAN_MEIER_SQL = f"""
WITH {RISK_TABLE_SQL},
terms AS (
    SELECT *,
           CASE WHEN d > 0 AND d < n_risk THEN
             -- snap_round(·, 9) casts through DECIMAL(28,8) first, so the
             -- effective Spark-side snap is 8 dp; mirror that exactly (a
             -- (28,9) cast here would round one digit finer and disagree)
             CAST(ROUND(CAST(LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                             AS DECIMAL(28,8)), 9) AS DOUBLE)
           ELSE 0.0 END AS logterm,
           MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS hit_zero
    FROM risked
)
SELECT CAST(t AS INTEGER) AS day,
       CAST(n_risk AS BIGINT) AS n_risk, d AS n_events, c AS n_censored,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE
         CAST(ROUND(CAST(EXP(SUM(logterm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
                         AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS survival
FROM terms
ORDER BY day
"""


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix: pairwise similarity between the
    per-label mean embeddings — the label-confusability map that decides
    whether two classes should merge or an IVF coarse quantizer needs
    more cells. Composes q_label_centroids' relational mean with the
    exact-decimal dot-product discipline: centroids snap to DECIMAL(18,5)
    (exactly the published centroid values), dots and norms are exact
    decimal sums over the |labels|·dim frame, one sqrt/divide per pair
    snapped at the edge.

    Scale: everything after the one centroid aggregate runs on
    |labels|·dim rows (bounded by schema, not data); the pair join is
    |labels|² — a dim-table object.
    """
    cent = (
        q_label_centroids(spark, sf_dir)
        .select("label", "pos", F.col("centroid").cast("decimal(18,5)").alias("c"))
        .localCheckpoint()  # three consumers: norms + both join sides
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("norm")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("norm").alias("norm_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            snap_round(
                F.col("dot").cast("double") / (F.col("norm_a") * F.col("norm_b")), 6
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


CENTROID_SIMILARITY_SQL = """
WITH ex AS (
    SELECT label, pos - 1 AS pos,
           CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) AS xd
    FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
),
cent AS (
    SELECT label, pos,
           CAST(ROUND(CAST(SUM(xd) AS DOUBLE) / COUNT(*), 5) AS DECIMAL(18,5)) AS c
    FROM ex GROUP BY label, pos
),
norms AS (
    SELECT label, SQRT(CAST(SUM(c * c) AS DOUBLE)) AS norm
    FROM cent GROUP BY label
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
)
SELECT label_a, label_b,
       CAST(ROUND(CAST(CAST(dot AS DOUBLE) / (na.norm * nb.norm)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS cosine
FROM dots
JOIN norms na ON label_a = na.label
JOIN norms nb ON label_b = nb.label
ORDER BY label_a, label_b
"""


#: diverse picks per query of q_similarity_mmr; its oracle unrolls one
#: argmax step per pick
MMR_PICKS = 5


def q_similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval: exact cosine top-20 candidates for query
    vectors vec_id < 5 (same ground-truth ranker as similarity_bruteforce),
    re-ranked to 5 diverse picks per query with λ=0.7 — the post-retrieval
    diversity stage (operators/similarity.mmr_rerank). Sequential argmax
    chain → rows-only driver check; tests/test_round2_ops.py recomputes
    the chain independently from the same candidates."""
    e = load_table(spark, sf_dir, "embeddings")
    cands = S.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=20)
    with_vec = cands.join(
        e.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "cosine_sim", "c_vec")
    return S.mmr_rerank(with_vec, lam=0.7, k=MMR_PICKS).orderBy("query_id", "mmr_rank")


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier operating-point sweep: precision/recall/F1 of the
    "is-English" detector (en-stopword hit RATIO as the score) at 20
    thresholds θ = i/20 — the curve behind choosing a quality-gate cutoff,
    companion to the single-point confusion matrix (langid_confusion) and
    the threshold-free AUC (auc_quality_langid).

    Exactness: the predicate never compares float score to float
    threshold — prediction at θ=i/20 is the INTEGER cross-multiplication
    20·hits > i·n_toks, so bucket membership is engine-exact by
    construction and only the final P/R/F1 ratios of exact longs get one
    snap each. Scale: ONE scan computes (hits, n_toks, label) per doc;
    the 20 thresholds ride an explode of a literal sequence (bounded
    ×20 row inflation of a 3-int relation, map-side combined into ≤20
    groups); no shuffle carries text.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    per_doc = d.select(
        X._count_in(toks, X.STOPWORDS["en"]).alias("hits"),
        F.size(toks).alias("n_toks"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    swept = per_doc.select(
        "hits",
        "n_toks",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i"),
    ).select(
        "i",
        "label",
        (20 * F.col("hits") > F.col("i") * F.col("n_toks")).cast("int").alias("pred"),
    )
    agg = swept.groupBy("i").agg(
        F.sum(F.col("label") * F.col("pred")).alias("tp"),
        F.sum((1 - F.col("label")) * F.col("pred")).alias("fp"),
        F.sum(F.col("label") * (1 - F.col("pred"))).alias("fn"),
    )
    return agg.select(
        (F.col("i") / 20.0).alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            snap_round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            snap_round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            snap_round(
                2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6
            ),
        ).alias("f1"),
    ).orderBy("threshold")


THRESHOLD_SWEEP_SQL = f"""
WITH per_doc AS (
    SELECT {_count_in_sql(_EN)} AS hits,
           len(toks) AS n_toks,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
    FROM (SELECT lang, {_TOKS} AS toks FROM documents)
),
swept AS (
    SELECT i, label,
           CASE WHEN 20 * hits > i * n_toks THEN 1 ELSE 0 END AS pred
    FROM per_doc CROSS JOIN (SELECT unnest(range(0, 20)) AS i)
),
agg AS (
    SELECT i,
           CAST(SUM(label * pred) AS BIGINT) AS tp,
           CAST(SUM((1 - label) * pred) AS BIGINT) AS fp,
           CAST(SUM(label * (1 - pred)) AS BIGINT) AS fn
    FROM swept GROUP BY i
)
SELECT i / 20.0 AS threshold, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN
            CAST(ROUND(CAST(tp / (tp + fp) AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS precision,
       CASE WHEN tp + fn > 0 THEN
            CAST(ROUND(CAST(tp / (tp + fn) AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0 THEN
            CAST(ROUND(CAST(2 * tp / (2 * tp + fp + fn)
                 AS DECIMAL(28,8)), 6) AS DOUBLE)
       END AS f1
FROM agg ORDER BY threshold
"""


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: cap every language at the MINORITY
    class's size, selecting survivors by deterministic content-hash rank —
    the label-balancing step before training a classifier, companion to
    the fixed-rate sample_stratified (rates known up front) and the
    fixed-cap source_caps (cap known up front): here the cap is
    DATA-DRIVEN (min class count), computed in one tiny aggregate and
    broadcast back.

    Scale: one shuffle on lang for the rank window; the class-count
    aggregate is map-side combined to ≤|langs| rows and its min is a
    1-row broadcast. Same hot-partition note as source_caps — a dominant
    class concentrates its partition; the two-phase partial top-cap is
    the mitigation once the cap is known.
    """
    d = load_table(spark, sf_dir, "documents")
    min_n = d.groupBy("lang").count().agg(F.min("count").alias("cap"))
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("int").alias("rk")
    ).crossJoin(F.broadcast(min_n))
    return (
        ranked.filter(F.col("rk") <= F.col("cap"))
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


CLASS_BALANCE_SQL = """
WITH cap AS (
    SELECT MIN(n) AS cap FROM (
        SELECT COUNT(*) AS n FROM documents GROUP BY lang
    )
),
ranked AS (
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY md5(text), doc_id) AS INT) AS rk
    FROM documents
)
SELECT doc_id, lang, rk
FROM ranked CROSS JOIN cap
WHERE rk <= cap
ORDER BY lang, rk
"""


def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch built BY A STREAM: events drain through an
    availableNow run whose running aggregate IS the d=4×w=256 cell grid
    (fixed-size state — the sketch's mergeability is what Structured
    Streaming exploits across micro-batches), checked against the same
    batch DuckDB oracle as any exact aggregate. Companion to the batch
    cms_heavy_hitters (lineitem part keys): this one sketches event
    user-id frequencies live."""
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        out = drain(streaming_cms_cells(read_events_stream(spark, src)), "complete", ckpt)
    return out.orderBy("r", "b")


STREAMING_CMS_SQL = """
SELECT r,
       CAST(CAST(concat('0x', substr(md5(concat(r, ':', CAST(user_id AS VARCHAR))), 1, 8))
            AS BIGINT) % 256 AS INT) AS b,
       COUNT(*) AS cnt
FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS r)
WHERE user_id IS NOT NULL
GROUP BY 1, 2
ORDER BY r, b
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the language guesser vs the labeled lang —
    agreement corrected for chance: κ = (p_o − p_e) / (1 − p_e) with
    p_o = observed agreement and p_e = Σ (row_marginal · col_marginal)/N².
    Raw accuracy (the confusion matrix's diagonal share) flatters any
    classifier on an imbalanced corpus; κ is the honest single number —
    the companion scalar to q_langid_confusion's full matrix.

    Exactness: all counts exact longs; p_e assembles from the ≤(langs+1)
    marginal pairs as exact integer products; the two divisions snap
    once each. Scale: one scan to the (lang, guess) aggregate (map-side
    combined, ≤(langs+1)² rows); marginals derive from that relation.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    cells = (
        d.select(F.col("lang").alias("truth"), X.lang_guess("text").alias("guess"))
        .groupBy("truth", "guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # ≤(langs+1)² rows; feeds diag, marginals, N
    )
    n = cells.agg(F.sum("cnt").alias("n"))
    diag = cells.filter(F.col("truth") == F.col("guess")).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("agree")
    )
    rows = cells.groupBy("truth").agg(F.sum("cnt").alias("row_n"))
    cols = cells.groupBy("guess").agg(F.sum("cnt").alias("col_n"))
    pe_num = (
        rows.join(cols, rows["truth"] == cols["guess"])
        .agg(F.coalesce(F.sum(F.col("row_n") * F.col("col_n")), F.lit(0)).alias("pe_num"))
    )
    out = n.crossJoin(diag).crossJoin(pe_num)
    po = F.col("agree").cast("double") / F.col("n").cast("double")
    pe = F.col("pe_num").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return out.select(
        F.col("n").alias("n_docs"),
        F.col("agree").alias("agreements"),
        snap_round(po, 6).alias("p_observed"),
        snap_round(pe, 6).alias("p_expected"),
        snap_round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


COHENS_KAPPA_SQL = f"""
WITH pred AS ({LANG_ID_SQL}),
cells AS (
    SELECT lang AS truth, lang_guess AS guess, COUNT(*) AS cnt
    FROM pred GROUP BY 1, 2
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells),
diag AS (
    SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS agree
    FROM cells WHERE truth = guess
),
marg AS (
    SELECT CAST(COALESCE(SUM(r.row_n * c.col_n), 0) AS BIGINT) AS pe_num
    FROM (SELECT truth, SUM(cnt) AS row_n FROM cells GROUP BY truth) r
    JOIN (SELECT guess, SUM(cnt) AS col_n FROM cells GROUP BY guess) c
      ON r.truth = c.guess
)
SELECT n AS n_docs, agree AS agreements,
       CAST(ROUND(CAST(CAST(agree AS DOUBLE) / n AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS p_observed,
       CAST(ROUND(CAST(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS p_expected,
       CAST(ROUND(CAST(
            (CAST(agree AS DOUBLE) / n - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))
            / (1.0 - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS kappa
FROM n CROSS JOIN diag CROSS JOIN marg
"""


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD curve — the decision table a curator reads
    before picking the dedup cutoff (the dedup family's threshold_sweep):
    at Jaccard ≥ {0.5, 0.6, 0.7, 0.8, 0.9}, how many candidate pairs
    survive and how many distinct documents they touch. Too low a cutoff
    deletes near-misses; too high leaves templates in — this curve is
    where that trade-off becomes visible.

    Built on the SAME blocked verifier as dedup_ngram (shared shingle and
    Jaccard semantics — the shared-definition rule), evaluated once at
    the loosest threshold; the five cutoffs are a literal explode over
    the bounded PAIR relation, pair counts and distinct-doc counts are
    ≤5-row aggregates joined on the threshold. Same candidates-only
    contract as the verifier (lang blocking is demo-grade; SCALE.md).
    """
    d = load_table(spark, sf_dir, "documents")
    # INVERTED-INDEX pair generation (the doc_cosine_pairs shape), not the
    # blocked cross-product: only pairs SHARING a shingle materialize, so
    # candidate count is bounded by posting-list lengths rather than
    # |block|² — for any threshold > 0 the result is identical (zero-
    # overlap pairs have J = 0). |∩| comes from the (block, shingle)
    # self-join count; |∪| = |Da| + |Db| − |∩| by inclusion-exclusion;
    # the division and 4-dp snap mirror operators/dedup.jaccard exactly.
    # Measured 14.7 s → the cosine-pairs cost class at sf0.1.
    from candyspark.operators.text import word_shingles

    sh = (
        fan_out(d)
        .select(
            "doc_id",
            F.col("lang").alias("block"),
            F.explode(F.array_distinct(word_shingles("text", 3))).alias("s"),
        )
        .localCheckpoint()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dn"))
    a_, b_ = sh.alias("a"), sh.alias("b")
    inter = (
        a_.join(
            b_,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("dn").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("dn").alias("nb"))
    jac = F.round(
        (
            F.col("ni").cast("double")
            / (F.col("na") + F.col("nb") - F.col("ni")).cast("double")
        ).cast("decimal(28,8)"),
        4,
    ).cast("double")
    pairs = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= 0.5)
        .localCheckpoint()
    )
    ths = F.array([F.lit(v) for v in (0.5, 0.6, 0.7, 0.8, 0.9)])
    at_th = pairs.select(
        "doc_a", "doc_b", "jaccard_sim", F.explode(ths).alias("threshold")
    ).filter(F.col("jaccard_sim") >= F.col("threshold"))
    n_pairs = at_th.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        at_th.select(
            "threshold", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold")
        .agg(F.countDistinct("d").cast("long").alias("n_docs_affected"))
    )
    return (
        n_pairs.join(n_docs, "threshold")
        .select("threshold", "n_pairs", "n_docs_affected")
        .orderBy("threshold")
    )


DEDUP_THRESHOLD_CURVE_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_SHINGLES} AS sh FROM t),
pairs AS (
    SELECT * FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(ROUND(CAST(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                     THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(a.sh || b.sh))
                     ELSE 0.0 END AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard_sim
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE jaccard_sim >= 0.5
),
at_th AS (
    SELECT doc_a, doc_b, th.threshold
    FROM pairs
    CROSS JOIN (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold) th
    WHERE jaccard_sim >= th.threshold
),
np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM at_th GROUP BY threshold),
nd AS (SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_affected
       FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM at_th)
       GROUP BY threshold)
SELECT threshold, n_pairs, n_docs_affected
FROM np JOIN nd USING (threshold)
ORDER BY threshold
"""


def q_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality gate (plans/quality's constraint checks) maintained AS
    STREAMING STATE: per event type, running row / null-value / negative-
    value counts accumulate across micro-batches — a fixed ≤|types|-row
    state however long the stream runs (the streaming_cms argument applied
    to data-quality monitoring). This is how a live pipeline gates a feed:
    violations surface per micro-batch instead of in a nightly batch
    audit, with the SAME numbers the batch gate computes — which is
    exactly what the batch DuckDB oracle checks.
    """
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        gate = read_events_stream(spark, src).groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_value"),
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative_value"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_user"),
        )
        out = drain(gate, "complete", ckpt)
    return out.orderBy("event_type")


STREAMING_QUALITY_GATE_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_value,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test — ARE the two arms' survival curves different, the
    inference companion Kaplan-Meier (q_kaplan_meier) draws but cannot
    test: at every event time, compare each arm's observed conversions to
    the expectation under the shared-hazard null (hypergeometric mean),
    accumulate O−E and its variance, and χ² = (Σ(O₁−E₁))²/ΣV with the
    3.841 (df=1, α=0.05) literal cut. Censoring handled exactly as KM:
    users leave the risk set when they convert OR when observation ends.

    Same time-to-event construction as KM (shared semantics), arms by the
    md5-parity split (the ab_* convention). Scale: user-grain reduction →
    per-(arm, day) event/leave counts → the risk-set recursion is a
    cumulative window over the ≤2·|days| grid (an explicit arms×days
    cross join so silent zero-event days stay PRESENT); per-time terms
    snap to decimal, the two sums are exact, one snapped χ².
    """
    e = load_table(spark, sf_dir, "events")
    arm = (X.char_hash32(F.col("user_id").cast("string")) % 2).cast("int")
    per_user = censored_conversions(e, signup_times(e)).select(
        arm.alias("g"),
        time_to_event().cast("long").alias("t"),
        F.col("conv_ts").isNotNull().cast("int").alias("d"),
    )
    gt = (
        per_user.groupBy("g", "t")
        .agg(
            F.sum("d").cast("long").alias("events"),
            F.count(F.lit(1)).cast("long").alias("leaves"),
        )
        .localCheckpoint()
    )
    times = gt.filter(F.col("events") > 0).select("t").distinct()
    arms = gt.select("g").distinct()
    n0 = gt.groupBy("g").agg(F.sum("leaves").cast("long").alias("n_total"))
    grid = (
        times.crossJoin(arms)
        .join(gt, ["g", "t"], "left")
        .join(F.broadcast(n0), "g")
        .select(
            "g",
            "t",
            F.coalesce(F.col("events"), F.lit(0)).cast("long").alias("d_gt"),
            F.coalesce(F.col("leaves"), F.lit(0)).cast("long").alias("l_gt"),
            "n_total",
        )
    )
    # risk set at t = total minus everyone who left strictly before t;
    # leaves at NON-event times must also decrement → recompute the prior
    # leave mass from the full gt relation via a range-style cumulative:
    # join grid times against per-(g,t) leaves with t_leave < t
    leaves = gt.select(
        F.col("g").alias("lg"), F.col("t").alias("lt"), "leaves"
    )
    prior = (
        grid.join(
            leaves,
            (F.col("g") == F.col("lg")) & (F.col("lt") < F.col("t")),
            "left",
        )
        .groupBy("g", "t", "d_gt", "n_total")
        .agg(F.coalesce(F.sum("leaves"), F.lit(0)).cast("long").alias("gone"))
        .select(
            "g", "t", "d_gt", (F.col("n_total") - F.col("gone")).alias("n_gt")
        )
    )
    a = prior.filter(F.col("g") == 0).select(
        "t", F.col("d_gt").alias("d1"), F.col("n_gt").alias("n1")
    )
    b = prior.filter(F.col("g") == 1).select(
        "t", F.col("d_gt").alias("d2"), F.col("n_gt").alias("n2")
    )
    j = a.join(b, "t")
    n = (F.col("n1") + F.col("n2")).cast("double")
    d = (F.col("d1") + F.col("d2")).cast("double")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    e1 = d * n1d / n
    v = F.when(
        n > 1.0,
        d * n1d * n2d * (n - d) / (n * n * (n - 1.0)),
    ).otherwise(F.lit(0.0))
    terms = j.filter(n > 0).select(
        F.round((F.col("d1").cast("double") - e1).cast("decimal(28,10)"), 8)
        .cast("decimal(20,8)")
        .alias("oe"),
        F.round(v.cast("decimal(28,10)"), 8).cast("decimal(20,8)").alias("v"),
        "d1",
        "d2",
    )
    sums = terms.agg(
        F.sum("oe").alias("oe_sum"),
        F.sum("v").alias("v_sum"),
        F.sum(F.col("d1") + F.col("d2")).cast("long").alias("n_events"),
    )
    chi2 = (
        F.col("oe_sum").cast("double")
        * F.col("oe_sum").cast("double")
        / F.col("v_sum").cast("double")
    )
    return sums.select(
        "n_events",
        snap_round(chi2, 6).alias("chi2"),
        (snap_round(chi2, 6) > 3.841).alias("curves_differ"),
    )


LOGRANK_TEST_SQL = f"""
WITH {FIRST_CONVERSIONS_SQL},
per_user AS (
    SELECT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS INTEGER) AS g,
           CAST({TIME_TO_EVENT_SQL} AS BIGINT) AS t,
           CAST(conv_ts IS NOT NULL AS INTEGER) AS d
    FROM conversions CROSS JOIN horizon
),
gt AS (
    SELECT g, t, CAST(SUM(d) AS BIGINT) AS events,
           CAST(COUNT(*) AS BIGINT) AS leaves
    FROM per_user GROUP BY g, t
),
times AS (SELECT DISTINCT t FROM gt WHERE events > 0),
arms AS (SELECT DISTINCT g FROM gt),
n0 AS (SELECT g, CAST(SUM(leaves) AS BIGINT) AS n_total FROM gt GROUP BY g),
grid AS (
    SELECT arms.g, times.t,
           CAST(COALESCE(gt.events, 0) AS BIGINT) AS d_gt,
           n0.n_total
    FROM times CROSS JOIN arms
    LEFT JOIN gt ON gt.g = arms.g AND gt.t = times.t
    JOIN n0 ON n0.g = arms.g
),
prior AS (
    SELECT grid.g, grid.t, grid.d_gt,
           grid.n_total - CAST(COALESCE(SUM(l.leaves), 0) AS BIGINT) AS n_gt
    FROM grid
    LEFT JOIN gt l ON l.g = grid.g AND l.t < grid.t
    GROUP BY grid.g, grid.t, grid.d_gt, grid.n_total
),
j AS (
    SELECT a.t, a.d_gt AS d1, a.n_gt AS n1, b.d_gt AS d2, b.n_gt AS n2
    FROM (SELECT * FROM prior WHERE g = 0) a
    JOIN (SELECT * FROM prior WHERE g = 1) b USING (t)
),
terms AS (
    SELECT CAST(ROUND(CAST(
               CAST(d1 AS DOUBLE)
               - CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                 / CAST(n1 + n2 AS DOUBLE)
               AS DECIMAL(28,10)), 8) AS DECIMAL(20,8)) AS oe,
           CAST(ROUND(CAST(
               CASE WHEN CAST(n1 + n2 AS DOUBLE) > 1.0
                    THEN CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                         * CAST(n2 AS DOUBLE)
                         * (CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
                         / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                            * (CAST(n1 + n2 AS DOUBLE) - 1.0))
                    ELSE 0.0 END
               AS DECIMAL(28,10)), 8) AS DECIMAL(20,8)) AS v,
           d1, d2
    FROM j WHERE n1 + n2 > 0
)
SELECT CAST(SUM(d1 + d2) AS BIGINT) AS n_events,
       CAST(ROUND(CAST(
           CAST(SUM(oe) AS DOUBLE) * CAST(SUM(oe) AS DOUBLE)
           / CAST(SUM(v) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS chi2,
       CAST(ROUND(CAST(
           CAST(SUM(oe) AS DOUBLE) * CAST(SUM(oe) AS DOUBLE)
           / CAST(SUM(v) AS DOUBLE)
           AS DECIMAL(28,8)), 6) AS DOUBLE) > 3.841 AS curves_differ
FROM terms
"""


def q_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification over the embedding table: the 50
    lowest-id vectors are the held-out queries, the rest are the labeled
    index; each query takes its exact cosine top-10 from the index and
    predicts by majority vote (ties → smallest label — the deterministic
    tiebreak discipline). The eval twin of the similarity family: it turns
    the retrieval stack into a measured classifier, the 'does my embedding
    space actually separate labels' probe an embedding pipeline needs.

    Scale: the brute-force scorer broadcasts the 50 queries (one corpus
    scan, JVM codegen dot products — no shuffle of the index); voting and
    ranking run on the ≤50×10 neighbor relation. Swap the scorer for
    lsh_bucketed_topk / ivf at corpus scale — the vote logic is unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 50)
    index = e.filter(F.col("vec_id") >= 50)
    nn = S.brute_force_topk(index, queries)
    labeled = nn.join(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("n_label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("n_label").alias("predicted_label"), "votes")
    )
    return (
        pred.join(
            e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")),
            "query_id",
        )
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            "votes",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


KNN_CLASSIFIER_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS q_vec FROM e WHERE vec_id < 50),
scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, e.label AS n_label,
           {_COS_SQL.replace("c_vec", "e.v")} AS cosine_sim
    FROM e CROSS JOIN q
    WHERE e.vec_id >= 50
),
nn AS (
    SELECT query_id, n_label FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 10
),
votes AS (
    SELECT query_id, n_label, CAST(COUNT(*) AS BIGINT) AS votes
    FROM nn GROUP BY query_id, n_label
),
pred AS (
    SELECT query_id, n_label AS predicted_label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY votes DESC, n_label ASC) AS r
        FROM votes
    ) WHERE r = 1
)
SELECT p.query_id, e.label AS true_label, p.predicted_label, p.votes,
       p.predicted_label = e.label AS correct
FROM pred p JOIN e ON e.vec_id = p.query_id
ORDER BY p.query_id
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH-bucketed ANN against the exact brute-force
    top-10, per query — THE number an ANN deployment is judged by (the
    similarity family's eval twin, as knn_classifier is the label-space
    eval). Both sides are this engine's own deterministic operators, so
    the whole measurement is hash-checkable end to end; tests pin a
    recall floor separately.

    Scale: both rankers broadcast the 5 queries and scan the corpus once
    each; the recall join runs on two ≤|queries|·10 relations.
    """
    ann = q_similarity_ann(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_id")
    )
    exact = q_similarity_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    hits = ann.join(
        exact,
        (ann.query_id == exact.query_id) & (ann.ann_id == exact.true_id),
    ).groupBy(ann.query_id).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "n_true",
            snap_round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_true").cast("double"),
                4,
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


ANN_RECALL_SQL = f"""
WITH ann AS (SELECT query_id, neighbor_id AS ann_id
             FROM ({SIMILARITY_ANN_SQL})),
exact AS (SELECT query_id, neighbor_id AS true_id
          FROM ({SIMILARITY_BRUTEFORCE_SQL})),
hits AS (
    SELECT ann.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM ann JOIN exact
      ON ann.query_id = exact.query_id AND ann.ann_id = exact.true_id
    GROUP BY ann.query_id
),
base AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM exact GROUP BY query_id
)
SELECT b.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       b.n_true,
       CAST(ROUND(CAST(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                       / CAST(b.n_true AS DOUBLE)
            AS DECIMAL(28,8)), 4) AS DOUBLE) AS recall_at_10
FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
ORDER BY b.query_id
"""


def _similarity_mmr_sql() -> str:
    """Unrolled greedy-MMR oracle (one argmax CTE pair per selection):
    possible because the kernel SNAPS pairwise penalties to 6 dp (see
    operators/similarity.mmr_rerank's cross-engine contract) — every
    objective value both engines compare is the same double, and ties
    resolve by the shared (relevance DESC, neighbor_id) presort order."""
    # order matters: rewrite c_vec first (else "a.c_vec" would re-match)
    cos_ab = _COS_SQL.replace("c_vec", "b.c_vec").replace("q_vec", "a.c_vec")
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "q AS (SELECT vec_id AS query_id, v AS q_vec FROM e WHERE vec_id < 5)",
        f"""scored AS (
    SELECT query_id, e.vec_id AS neighbor_id,
           {_COS_SQL.replace("c_vec", "e.v")} AS rel, e.v AS c_vec
    FROM e CROSS JOIN q
    WHERE e.vec_id != query_id
)""",
        """cand AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel, c_vec FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 20
)""",
        f"""psim AS MATERIALIZED (
    SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
           {cos_ab} AS sim
    FROM cand a JOIN cand b ON a.query_id = b.query_id
)""",
        """all1 AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel, 0.7 * rel AS s, 1 AS mmr_rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
        FROM cand
    ) WHERE rn = 1
)""",
    ]
    for r in range(2, MMR_PICKS + 1):
        parts.append(
            f"""m{r} AS (
    SELECT c.query_id, c.neighbor_id, c.rel,
           0.7 * c.rel - (1.0 - 0.7) * mx.pen AS s
    FROM cand c
    JOIN (SELECT p.query_id, p.i AS neighbor_id, MAX(p.sim) AS pen
          FROM psim p
          JOIN all{r - 1} s ON p.query_id = s.query_id
                           AND p.j = s.neighbor_id
          GROUP BY 1, 2) mx
      ON c.query_id = mx.query_id AND c.neighbor_id = mx.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM all{r - 1} s2
                      WHERE s2.query_id = c.query_id
                        AND s2.neighbor_id = c.neighbor_id)
)"""
        )
        parts.append(
            f"""all{r} AS MATERIALIZED (
    SELECT * FROM all{r - 1}
    UNION ALL
    SELECT query_id, neighbor_id, rel, s, {r} AS mmr_rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, rel DESC, neighbor_id) AS rn
        FROM m{r}
    ) WHERE rn = 1
)"""
        )
    return f"""
WITH {','.join(parts)}
SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
       rel AS relevance,
       CAST(ROUND(CAST(s AS DECIMAL(28,8)), 6) AS DOUBLE) AS mmr_score
FROM all{MMR_PICKS}
ORDER BY query_id, mmr_rank
"""


SIMILARITY_MMR_SQL = _similarity_mmr_sql()


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for time-to-first-purchase
    — the additive twin of q_kaplan_meier's product-limit survival (H(t) =
    Σ_{event days ≤ t} d/n vs S(t) = Π (1 − d/n)): the hazard view is what
    rate-regression and competing-risk extensions consume, and the Breslow
    survival exp(−H) it implies is the standard cross-check on KM. Shares
    KM's right-censored per-user construction verbatim (same signup →
    first-purchase → horizon-censor relation), so the two queries are
    column-to-column comparable.

    Exactness: at-risk counts and scale are :func:`risk_table`'s; each d/n
    term is ONE IEEE division snapped at 8 dp through DECIMAL(28,8)
    (identical cast semantics both engines), the cumulative sum runs in
    the SAME t-order on both sides, and outputs snap at 6 dp."""
    upto = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.when(
        F.col("d") > 0,
        snap_round(
            F.col("d").cast("double") / F.col("n_risk").cast("double"), 8
        ),
    ).otherwise(F.lit(0.0))
    cumhaz = F.sum("hterm").over(upto)
    return (
        risk_table(spark, sf_dir)
        .withColumn("hterm", term)
        .select(
            F.col("t").cast("int").alias("day"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            snap_round(cumhaz, 6).alias("cum_hazard"),
            snap_round(F.exp(-cumhaz), 6).alias("breslow_survival"),
        )
        .orderBy("day")
    )


NELSON_AALEN_SQL = f"""
WITH {RISK_TABLE_SQL},
terms AS (
    SELECT *,
           CASE WHEN d > 0 THEN
             CAST(ROUND(CAST(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                             AS DECIMAL(28,8)), 8) AS DOUBLE)
           ELSE 0.0 END AS hterm
    FROM risked
),
cum AS (
    SELECT t, n_risk, d, c,
           SUM(hterm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS h
    FROM terms
)
SELECT CAST(t AS INTEGER) AS day,
       CAST(n_risk AS BIGINT) AS n_risk, d AS n_events, c AS n_censored,
       CAST(ROUND(CAST(h AS DECIMAL(28,8)), 6) AS DOUBLE) AS cum_hazard,
       CAST(ROUND(CAST(EXP(-h) AS DECIMAL(28,8)), 6) AS DOUBLE) AS breslow_survival
FROM cum
ORDER BY day
"""


def q_mcc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language one-vs-rest Matthews correlation coefficient of the
    heuristic language guesser — the single-number-per-class summary that
    q_langid_confusion's full matrix and q_auc_quality_langid's ranking
    view don't give: MCC = (TP·TN − FP·FN) / √((TP+FP)(TP+FN)(TN+FP)(TN+FN))
    is the confusion-matrix correlation, balanced under class skew (our
    corpus is mostly-en, where accuracy and even F1 flatter the guesser).
    Kappa (q_cohens_kappa) summarizes the whole matrix; MCC localizes the
    quality to each language gate a curator might actually deploy.

    All four cells are exact integers from ONE (lang, guess) aggregate
    (conditional sums over the ≤(|langs|+1)²-row matrix joined to the
    |langs| class list — bounded, broadcast); the MCC formula is one IEEE
    double expression on identical integers, snapped at 6 dp. Undefined
    MCC (a zero factor) reports 0.0, the sklearn convention."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    cells = (
        d.select("lang", X.lang_guess("text").alias("g"))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("n_total"))
    langs = cells.select(F.col("lang").alias("cls")).distinct()
    per = (
        langs.join(F.broadcast(cells))
        .groupBy("cls")
        .agg(
            F.coalesce(
                F.sum(F.when((F.col("lang") == F.col("cls")) & (F.col("g") == F.col("cls")), F.col("n"))),
                F.lit(0),
            ).cast("long").alias("tp"),
            F.coalesce(
                F.sum(F.when((F.col("lang") != F.col("cls")) & (F.col("g") == F.col("cls")), F.col("n"))),
                F.lit(0),
            ).cast("long").alias("fp"),
            F.coalesce(
                F.sum(F.when((F.col("lang") == F.col("cls")) & (F.col("g") != F.col("cls")), F.col("n"))),
                F.lit(0),
            ).cast("long").alias("fn"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("tn", (F.col("n_total") - F.col("tp") - F.col("fp") - F.col("fn")).cast("long"))
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    denom = (
        (d_("tp") + d_("fp")) * (d_("tp") + d_("fn"))
        * (d_("tn") + d_("fp")) * (d_("tn") + d_("fn"))
    )
    mcc = F.when(
        denom > 0.0,
        snap_round(
            (d_("tp") * d_("tn") - d_("fp") * d_("fn")) / F.sqrt(denom), 6
        ),
    ).otherwise(F.lit(0.0))
    return per.select(
        F.col("cls").alias("lang"), "tp", "fp", "fn", "tn", mcc.alias("mcc")
    ).orderBy("lang")


MCC_LANGID_SQL = f"""
WITH pred AS ({LANG_ID_SQL}),
cells AS (
    SELECT lang, lang_guess AS g, COUNT(*) AS n
    FROM pred GROUP BY 1, 2
),
tot AS (SELECT SUM(n) AS n_total FROM cells),
langs AS (SELECT DISTINCT lang AS cls FROM cells),
per AS (
    SELECT l.cls,
           CAST(COALESCE(SUM(CASE WHEN c.lang = l.cls AND c.g = l.cls THEN c.n END), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN c.lang <> l.cls AND c.g = l.cls THEN c.n END), 0) AS BIGINT) AS fp,
           CAST(COALESCE(SUM(CASE WHEN c.lang = l.cls AND c.g <> l.cls THEN c.n END), 0) AS BIGINT) AS fn
    FROM langs l CROSS JOIN cells c
    GROUP BY l.cls
),
full_cells AS (
    SELECT cls, tp, fp, fn,
           CAST(t.n_total - tp - fp - fn AS BIGINT) AS tn
    FROM per CROSS JOIN tot t
)
SELECT cls AS lang, tp, fp, fn, tn,
       CASE WHEN (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                 * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                 * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                 * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)) > 0.0
            THEN CAST(ROUND(CAST(
                (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                 - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                / SQRT((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                       * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                       * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                       * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))
                AS DECIMAL(28,8)), 6) AS DOUBLE)
            ELSE 0.0 END AS mcc
FROM full_cells
ORDER BY lang
"""


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality (Kusupati et al. 2022): neighbor
    recall@10 when embeddings are truncated to their prefix 8/16/32 dims,
    against the full-64-dim exact top-10 — the measurement that decides
    whether a pipeline can serve the cheap prefix index (4–8× less memory
    and bandwidth) and rerank with full vectors. The eval harness shape
    matches ann_recall (ranker vs exact baseline, both deterministic in-
    engine operators, so the WHOLE measurement is hash-checked); the
    knife here is the dim axis, not the index structure.

    Determinism: all four rankings use the shared sequential-fold cosine
    (identical IEEE doubles both engines, 6-dp snap) with the (sim desc,
    neighbor_id) tiebreak; recall is exact integer overlap / 10. Scale:
    ONE corpus scan — the 50 queries and the 4-row dim relation broadcast
    onto it, dot products stay JVM codegen; everything after the top-10
    windows is a ≤(50·10·4)-row join."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = spark.createDataFrame([(8,), (16,), (32,), (64,)], "dim int")
    # prefix-slice + norm once per (vector, dim) — not per (pair, dim):
    # the slice and the norm fold are deterministic doubles, so attaching
    # them on the (broadcast) single-vector relations before the pair join
    # leaves every pair's dot/(nq·nc) bit-identical while the O(pairs)
    # stage stops re-slicing and re-folding both vectors per candidate
    q = (
        e.filter(F.col("vec_id") < 50)
        .crossJoin(F.broadcast(dims))
        .select(
            "dim",
            F.col("vec_id").alias("query_id"),
            F.slice("embedding", F.lit(1), F.col("dim")).alias("q_vec"),
        )
        .withColumn("q_n", S.norm(F.col("q_vec")))
    )
    c = (
        fan_out(e.filter(F.col("vec_id") >= 50))
        .crossJoin(F.broadcast(dims))
        .select(
            "dim",
            F.col("vec_id").alias("neighbor_id"),
            F.slice("embedding", F.lit(1), F.col("dim")).alias("c_vec"),
        )
        .withColumn("c_n", S.norm(F.col("c_vec")))
    )
    scored = (
        c.join(F.broadcast(q), "dim")
        .select(
            "dim",
            "query_id",
            "neighbor_id",
            S.cosine_given_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_n"), F.col("c_n")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("dim", "query_id", "neighbor_id")
        .localCheckpoint()  # consumed twice: as truth (dim 64) and as candidate
    )
    truth = topk.filter(F.col("dim") == 64).select("query_id", "neighbor_id")
    hits = (
        topk.filter(F.col("dim") != 64)
        .join(truth, ["query_id", "neighbor_id"])
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    n_q = truth.select("query_id").distinct().agg(
        F.count(F.lit(1)).alias("n_queries")
    )
    return (
        hits.crossJoin(F.broadcast(n_q))
        .select(
            "dim",
            F.col("n_queries").cast("long").alias("n_queries"),
            "n_hits",
            snap_round(
                F.col("n_hits").cast("double")
                / (F.col("n_queries").cast("double") * 10.0),
                6,
            ).alias("recall_at_10"),
        )
        .orderBy("dim")
    )


def _matryoshka_cos(dim_expr: str) -> str:
    return (
        "CAST(ROUND(CAST("
        f"list_reduce(list_transform(range(1, {dim_expr} + 1), i -> q_vec[i] * c_vec[i]), (a, b) -> a + b)"
        f" / (sqrt(list_reduce(list_transform(range(1, {dim_expr} + 1), i -> q_vec[i] * q_vec[i]), (a, b) -> a + b))"
        f" * sqrt(list_reduce(list_transform(range(1, {dim_expr} + 1), i -> c_vec[i] * c_vec[i]), (a, b) -> a + b)))"
        " AS DECIMAL(28,10)), 6) AS DOUBLE)"
    )


MATRYOSHKA_RECALL_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS q_vec FROM e WHERE vec_id < 50),
c AS (SELECT vec_id AS neighbor_id, v AS c_vec FROM e WHERE vec_id >= 50),
dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
scored AS (
    SELECT dim, query_id, neighbor_id, {_matryoshka_cos("dim")} AS sim
    FROM c CROSS JOIN q CROSS JOIN dims
),
topk AS (
    SELECT dim, query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY dim, query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 10
),
truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim = 64),
hits AS (
    SELECT t.dim, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM topk t JOIN truth u USING (query_id, neighbor_id)
    WHERE t.dim <> 64
    GROUP BY t.dim
),
nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM truth)
SELECT dim, n_queries, n_hits,
       CAST(ROUND(CAST(CAST(n_hits AS DOUBLE)
                       / (CAST(n_queries AS DOUBLE) * 10.0)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS recall_at_10
FROM hits CROSS JOIN nq
ORDER BY dim
"""


def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy diagnostic (Ethayarajh 2019): the mean
    cosine between RANDOM vector pairs. In an isotropic space it is ≈ 0;
    contextual-embedding spaces routinely measure > 0.5 — a cone — which
    silently inflates every cosine-based threshold upstream (dedup,
    retrieval, semantic clustering all consume this number to calibrate
    their cutoffs). Reports mean/std of the pair cosine plus the mean
    vector norm.

    The 'random' pairs are DETERMINISTIC: vectors bucket by vec_id % 64
    and each pairs with its successor inside the bucket (lead over the
    bucket window) — reproducible at any scale with no RNG state, and the
    window partitions by bucket so no global sort exists. Pair cosines
    snap at 6 dp (the shared fold), then mean/std come from exact decimal
    power sums. One scan, one bucket-keyed exchange."""
    from candyspark.operators.similarity import cosine, norm

    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        (F.col("vec_id") % 64).alias("bucket"), "vec_id", "embedding"
    )
    w = Window.partitionBy("bucket").orderBy("vec_id")
    paired = (
        b.withColumn("nxt", F.lead("embedding").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            cosine(F.col("embedding"), F.col("nxt")).alias("cos"),
            snap_round(norm(F.col("embedding")), 6).alias("nrm"),
        )
    )
    cd = F.col("cos").cast("decimal(10,6)")
    nd = F.col("nrm").cast("decimal(12,6)")
    sums = paired.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(cd).alias("sc"),
        F.sum(cd * cd).alias("scc"),
        F.sum(nd).alias("sn"),
    )
    n = F.col("n_pairs").cast("double")
    mean_c = F.col("sc").cast("double") / n
    var_c = F.col("scc").cast("double") / n - mean_c * mean_c
    return sums.select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        snap_round(mean_c, 6).alias("mean_cos"),
        snap_round(F.sqrt(var_c), 6).alias("std_cos"),
        snap_round(F.col("sn").cast("double") / n, 6).alias("mean_norm"),
    )


EMBEDDING_ANISOTROPY_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
paired AS (
    SELECT vec_id % 64 AS bucket, vec_id, v,
           LEAD(v) OVER (PARTITION BY vec_id % 64 ORDER BY vec_id) AS nxt
    FROM e
),
scored AS (
    SELECT {_COS_SQL.replace("q_vec", "v").replace("c_vec", "nxt")} AS cos,
           CAST(ROUND(CAST(
               sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]),
                    (a, b) -> a + b))
               AS DECIMAL(28,8)), 6) AS DOUBLE) AS nrm
    FROM paired WHERE nxt IS NOT NULL
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           SUM(CAST(cos AS DECIMAL(10,6))) AS sc,
           SUM(CAST(cos AS DECIMAL(10,6)) * CAST(cos AS DECIMAL(10,6))) AS scc,
           SUM(CAST(nrm AS DECIMAL(12,6))) AS sn
    FROM scored
)
SELECT n_pairs,
       CAST(ROUND(CAST(CAST(sc AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_cos,
       CAST(ROUND(CAST(
           SQRT(CAST(scc AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                - (CAST(sc AS DOUBLE) / CAST(n_pairs AS DOUBLE))
                  * (CAST(sc AS DOUBLE) / CAST(n_pairs AS DOUBLE)))
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS std_cos,
       CAST(ROUND(CAST(CAST(sn AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_norm
FROM sums
"""


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (τ = 14 days): the area under the
    Kaplan-Meier curve up to two weeks — 'expected conversion-free days
    in the first fortnight', the single clinically-standard number the
    KM curve (q_kaplan_meier) and hazard (q_nelson_aalen) views reduce to
    when two pipelines must be compared scalar-to-scalar. Completes the
    survival triple: curve → hazard → integral.

    Exactly the KM construction (shared censored per-user relation, same
    snapped log-product survival), then the step-function integral as a
    lead()-window segment sum over the ≤|days| relation: contribution =
    S_i · (min(next_day, τ) − day_i) plus the initial S = 1 segment
    [0, min(first_day, τ)). Products snap at 6 dp into an exact decimal
    sum; τ caps every segment so late days contribute nothing."""
    tau = 14
    # the ≤|days| KM relation feeds two consumers (segment sum + first-day
    # scalar); checkpoint once or each re-derives the 3-scan KM lineage
    km = q_kaplan_meier(spark, sf_dir).select("day", "survival").localCheckpoint()
    w = Window.orderBy("day")
    seg = (
        km.withColumn("nxt", F.coalesce(F.lead("day").over(w), F.lit(tau)))
        .filter(F.col("day") < tau)
        .select(
            snap_round(
                F.col("survival")
                * (F.least(F.col("nxt"), F.lit(tau)) - F.col("day")).cast("double"),
                6,
            ).cast("decimal(18,6)").alias("contrib")
        )
    )
    first = km.agg(F.min("day").alias("d1"))
    head = first.select(
        F.least(F.col("d1"), F.lit(tau)).cast("double").cast("decimal(18,6)").alias(
            "contrib"
        )
    )
    total = seg.unionByName(head).agg(F.sum("contrib").alias("rmst_sum"))
    return total.crossJoin(F.broadcast(first)).select(
        F.lit(tau).cast("int").alias("tau_days"),
        F.col("d1").cast("int").alias("first_event_day"),
        snap_round(F.col("rmst_sum").cast("double"), 6).alias("rmst_days"),
        snap_round(F.col("rmst_sum").cast("double") / tau, 6).alias("rmst_share"),
    )


RMST_SQL = f"""
WITH km AS ({KAPLAN_MEIER_SQL.replace("ORDER BY day", "")}),
seg AS (
    SELECT CAST(ROUND(CAST(
               survival * CAST(LEAST(COALESCE(LEAD(day) OVER (ORDER BY day), 14), 14) - day AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS contrib,
           day
    FROM km
),
first AS (SELECT MIN(day) AS d1 FROM km),
total AS (
    SELECT SUM(contrib) AS rmst_sum FROM (
        SELECT contrib FROM seg WHERE day < 14
        UNION ALL
        SELECT CAST(CAST(LEAST(d1, 14) AS DOUBLE) AS DECIMAL(18,6)) FROM first
    )
)
SELECT CAST(14 AS INTEGER) AS tau_days,
       CAST(first.d1 AS INTEGER) AS first_event_day,
       CAST(ROUND(CAST(CAST(total.rmst_sum AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS rmst_days,
       CAST(ROUND(CAST(CAST(total.rmst_sum AS DOUBLE) / 14 AS DECIMAL(28,8)), 6) AS DOUBLE) AS rmst_share
FROM total CROSS JOIN first
"""


def q_streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running top-5 most-active users maintained as streaming state: the
    per-user event counters accumulate across micro-batches (complete-
    mode aggregate), the top-k read happens on the result table — the
    live-leaderboard shape (trending items, hot keys, abuse monitors).
    State is one row per OBSERVED user; at 100-TB streams swap the exact
    counter map for streaming_cms's bounded sketch and feed THIS query's
    top-k from the candidate set — the read-side logic is unchanged.
    Batch-equivalence is the contract the oracle checks (same counts,
    same (count desc, user_id) tiebreak)."""
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        counts = read_events_stream(spark, src).groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
        )
        out = drain(counts, "complete", ckpt)
    return out.orderBy(F.desc("n_events"), "user_id").limit(5)


STREAMING_TOPK_USERS_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 5
"""


def q_streaming_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value bars (min/max/count/exact-decimal sum per day×type)
    maintained as streaming state — the continuous-ingest form of the
    batch ohlc_bars family restricted to the ORDER-FREE statistics
    (open/close need event order across micro-batches, which a complete-
    mode aggregate cannot promise; min/max/sum/count are commutative, so
    stream and batch agree bit-for-bit — the same reasoning that puts
    decimal sums everywhere else). State is calendar×type-bounded.
    """
    events = load_table(spark, sf_dir, "events")
    with _landed(events) as (src, ckpt):
        bars = read_events_stream(spark, src).groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.col("value").cast("decimal(18,4)")).cast("double").alias("lo"),
            F.max(F.col("value").cast("decimal(18,4)")).cast("double").alias("hi"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("value_sum"),
        )
        out = drain(bars, "complete", ckpt)
    return out.orderBy("day", "event_type")


STREAMING_DAILY_BARS_SQL = """
SELECT CAST(ts AS DATE) AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS lo,
       CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS hi,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def q_binary_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding quantization with Hamming shortlist +
    exact rerank — the 32×-compression retrieval pattern (64 floats →
    two int64 words): rank by Hamming distance on the packed sign bits,
    keep a 50-candidate shortlist, rerank it with full-precision cosine,
    and measure recall@10 of BOTH stages against the exact top-10. The
    eval completes the quantization family (int8 scalar quantization,
    Matryoshka prefix truncation) with the cheapest index of all — XOR +
    popcount, SIMD-trivial at serving time.

    Determinism: bit packing is a sign comparison (exact on any float);
    Hamming is integer; the rerank cosine is the shared sequential-fold
    6-dp snap; every ranking tiebreaks (key, neighbor_id). Scale: the
    packed corpus is computed IN the scan stage (two int64s per row —
    this is the point: the shortlist pass never touches the float
    vectors); queries broadcast; the rerank join feeds from the same
    checkpointed pair relation the truth ranking uses, so the corpus
    scans once."""
    e = load_table(spark, sf_dir, "embeddings")

    def pack(vec, lo: int) -> F.Column:
        bits = F.transform(
            F.slice(vec, lo + 1, 32),
            # 2^i is exact in double up to 2^53, so the pow-cast is the
            # same int64 both engines' shifts produce (i <= 31 here)
            lambda x, i: F.when(
                x > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a + b)

    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        S.norm(F.col("embedding")).alias("q_n"),
        pack(F.col("embedding"), 0).alias("q_lo"),
        pack(F.col("embedding"), 32).alias("q_hi"),
    )
    c = fan_out(e.filter(F.col("vec_id") >= 50)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_n"),
        pack(F.col("embedding"), 0).alias("c_lo"),
        pack(F.col("embedding"), 32).alias("c_hi"),
    )

    pairs = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
            ).alias("hamming"),
            S.cosine_given_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_n"), F.col("c_n")
            ).alias("sim"),
        )
        .localCheckpoint()  # feeds truth, hamming-top10, and shortlist
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    w_ham = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    truth = (
        pairs.withColumn("r", F.row_number().over(w_cos))
        .filter(F.col("r") <= 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    ham10 = (
        pairs.withColumn("r", F.row_number().over(w_ham))
        .filter(F.col("r") <= 10)
        .select("query_id", "neighbor_id")
    )
    rerank = (
        pairs.withColumn("r", F.row_number().over(w_ham))
        .filter(F.col("r") <= 50)
        .withColumn("r2", F.row_number().over(w_cos))
        .filter(F.col("r2") <= 10)
        .select("query_id", "neighbor_id")
    )
    n_q = truth.select("query_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    h_hits = ham10.join(truth, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("hits_hamming")
    )
    r_hits = rerank.join(truth, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("hits_reranked")
    )
    out = n_q.crossJoin(h_hits).crossJoin(r_hits)
    denom = F.col("n_queries").cast("double") * 10.0
    return out.select(
        "n_queries",
        "hits_hamming",
        "hits_reranked",
        snap_round(F.col("hits_hamming").cast("double") / denom, 6).alias(
            "recall_hamming_at_10"
        ),
        snap_round(F.col("hits_reranked").cast("double") / denom, 6).alias(
            "recall_reranked_at_10"
        ),
    )


def _bq_pack(vec: str, lo: int) -> str:
    return (
        "list_reduce(list_transform(range(1, 33), i -> CASE WHEN "
        f"{vec}[i + {lo}] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END), "
        "(a, b) -> a + b)"
    )


BINARY_QUANTIZATION_RECALL_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (
    SELECT vec_id AS query_id, v AS q_vec,
           {_bq_pack("v", 0)} AS q_lo, {_bq_pack("v", 32)} AS q_hi
    FROM e WHERE vec_id < 50
),
c AS (
    SELECT vec_id AS neighbor_id, v AS c_vec,
           {_bq_pack("v", 0)} AS c_lo, {_bq_pack("v", 32)} AS c_hi
    FROM e WHERE vec_id >= 50
),
pairs AS (
    SELECT query_id, neighbor_id,
           bit_count(xor(q_lo, c_lo)) + bit_count(xor(q_hi, c_hi)) AS hamming,
           {_COS_SQL} AS sim
    FROM c CROSS JOIN q
),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS r
        FROM pairs
    ) WHERE r <= 10
),
ham10 AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY hamming, neighbor_id) AS r
        FROM pairs
    ) WHERE r <= 10
),
rerank AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS r2
        FROM (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS r
                FROM pairs
            ) WHERE r <= 50
        )
    ) WHERE r2 <= 10
),
nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM truth),
hh AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS hits_hamming
    FROM ham10 JOIN truth USING (query_id, neighbor_id)
),
rh AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS hits_reranked
    FROM rerank JOIN truth USING (query_id, neighbor_id)
)
SELECT n_queries, hits_hamming, hits_reranked,
       CAST(ROUND(CAST(CAST(hits_hamming AS DOUBLE)
            / (CAST(n_queries AS DOUBLE) * 10.0) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS recall_hamming_at_10,
       CAST(ROUND(CAST(CAST(hits_reranked AS DOUBLE)
            / (CAST(n_queries AS DOUBLE) * 10.0) AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS recall_reranked_at_10
FROM nq CROSS JOIN hh CROSS JOIN rh
"""


def q_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming window aggregations (Spark 3.4+ multiple stateful
    operators): a 6-hour tumbling count per event type feeds a SECOND
    stateful aggregation — per day×type, how many 6-hour buckets landed
    and the busiest bucket's count (the burst monitor: daily peak of the
    intra-day rate). Before 3.4 this took two jobs with an intermediate
    sink; here it is one streaming query with two state stores.

    Chaining REQUIRES append mode (a second stateful stage cannot consume
    complete-mode retractions), and append emits a window only once the
    watermark passes its end — so the landing adds one far-future SENTINEL
    row whose watermark flushes every real window through both stages in
    the final no-data batch, and the sentinel's own windows are filtered
    from the result. The batch oracle never sees the sentinel (it reads
    the real events table), which proves the flush trick is semantically
    invisible. The inner day bucketing uses window_time() — the closed
    window's event-time representative — the documented idiom for
    window-over-window.

    Scale: state is bounded by live (6h-bucket × type) + (day × type)
    windows inside the watermark horizon; both stages emit-and-evict as
    the watermark advances — the unbounded-stream contract."""
    events = load_table(spark, sf_dir, "events")
    sentinel_ts = events.agg(
        F.date_add(F.max(F.to_date("ts")), 30).cast("timestamp").alias("t")
    )
    sentinel = sentinel_ts.select(
        F.lit(-1).cast("long").alias("event_id"),
        F.col("t").alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with _landed(events.unionByName(sentinel)) as (src, ckpt):
        hourly = (
            read_events_stream(spark, src)
            .withWatermark("ts", "1 second")
            .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        )
        daily = (
            hourly.groupBy(
                F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.max("n_events").alias("max_bucket_events"),
            )
        )
        out = drain(daily, "append", ckpt)
    real_max = events.agg(F.max(F.to_date("ts")).alias("mx"))
    return (
        out.select(
            F.to_date(F.col("d.start")).alias("day"),
            "event_type",
            "n_buckets",
            "max_bucket_events",
        )
        .join(F.broadcast(real_max), F.col("day") <= F.col("mx"), "left_semi")
        .orderBy("day", "event_type")
    )


STREAMING_CHAINED_WINDOWS_SQL = """
WITH hourly AS (
    SELECT to_timestamp(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600)
               AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT CAST(to_timestamp(FLOOR(epoch(bucket) / 86400) * 86400) AS DATE) AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       MAX(n_events) AS max_bucket_events
FROM hourly
GROUP BY 1, 2
ORDER BY day, event_type
"""


def q_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost curve for the IVF index: recall@10 at n_probe in
    {1, 2, 4} against the exact brute-force top-10 — THE tuning table an
    IVF deployment is sized from (each probe level costs
    O(N·n_probe/n_centroids) per query; the curve says where recall
    saturates). similarity_ivf fixes n_probe = 4; this measures what the
    cheaper settings give up.

    Candidates are scored ONCE at the widest probe (crank ≤ 4, the
    inverted lists assign each corpus vector to exactly one list so no
    dedup is needed); each level then re-ranks the crank ≤ level subset
    via a broadcast 3-row level dimension — 1 corpus scan for the whole
    curve, not one per level. Recall joins two ≤|queries|·10 relations
    per level. All scores ride the snapped-cosine contract, ranks break
    ties on neighbor_id, so the full curve hash-checks.
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    emb = fan_out(e)
    centroids = F.broadcast(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("c_vec")
        )
    )
    lists = S.ivf_assign(emb, centroids).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        S.norm(F.col("embedding")).alias("c_n"),
        "cluster_id",
    )
    probes = S.ivf_assign(queries, centroids, n_probe=S.IVF_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        S.norm(F.col("embedding")).alias("q_n"),
        "cluster_id",
        "crank",
    )
    cand = (
        lists.join(F.broadcast(probes), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "crank",
            S.cosine_given_norms(
                F.col("q_vec"), F.col("c_emb"), F.col("q_n"), F.col("c_n")
            ).alias("cosine_sim"),
        )
        .localCheckpoint()  # 3 probe levels re-rank the same scored set
    )
    levels = spark.createDataFrame([(1,), (2,), (4,)], "n_probe int")
    leveled = cand.crossJoin(F.broadcast(levels)).filter(
        F.col("crank") <= F.col("n_probe")
    )
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    ann = (
        leveled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("n_probe", "query_id", F.col("neighbor_id").alias("ann_id"))
    )
    exact = q_similarity_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    hits = ann.join(
        exact,
        (ann.query_id == exact.query_id) & (ann.ann_id == exact.true_id),
    ).groupBy("n_probe", ann.query_id).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    ).crossJoin(F.broadcast(levels))
    per_q = base.join(hits, ["n_probe", "query_id"], "left").select(
        "n_probe",
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        "n_true",
    )
    rows = per_q.select(
        F.col("n_probe").cast("long").alias("n_probe"),
        "query_id",
        snap_round(
            F.col("n_hits").cast("double") / F.col("n_true").cast("double"), 4
        ).alias("recall_at_10"),
    )
    curve = rows.groupBy("n_probe").agg(
        F.lit(-1).cast("long").alias("query_id"),
        snap_round(
            F.sum(F.col("recall_at_10").cast("decimal(10,4)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("recall_at_10"),
    )
    return rows.unionByName(curve).orderBy("n_probe", "query_id")


IVF_PROBE_CURVE_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cluster_id, v AS c_vec FROM e WHERE vec_id < 16),
lists AS (
    SELECT vec_id AS neighbor_id, v AS c_emb, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN cents c
    ) WHERE crank <= 1
),
probes AS (
    SELECT vec_id AS query_id, v AS q_vec, cluster_id, crank FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_L2SQ}, c.cluster_id) AS crank
        FROM e CROSS JOIN cents c
        WHERE e.vec_id < 5
    ) WHERE crank <= 4
),
cand AS MATERIALIZED (
    SELECT query_id, neighbor_id, crank,
           {_COS_SQL.replace("c_vec", "c_emb")} AS cosine_sim
    FROM lists JOIN probes USING (cluster_id)
    WHERE neighbor_id != query_id
),
levels AS (SELECT UNNEST([1, 2, 4]) AS n_probe),
ann AS (
    SELECT n_probe, query_id, neighbor_id AS ann_id FROM (
        SELECT l.n_probe, c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY l.n_probe, c.query_id
                   ORDER BY c.cosine_sim DESC, c.neighbor_id) AS rank
        FROM cand c JOIN levels l ON c.crank <= l.n_probe
    ) WHERE rank <= 10
),
exact AS (
    SELECT query_id, neighbor_id AS true_id FROM ({SIMILARITY_BRUTEFORCE_SQL})
),
hits AS (
    SELECT a.n_probe, a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM ann a JOIN exact x
      ON a.query_id = x.query_id AND a.ann_id = x.true_id
    GROUP BY 1, 2
),
base AS (
    SELECT l.n_probe, x.query_id, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM exact x CROSS JOIN levels l
    GROUP BY 1, 2
),
rows_ AS (
    SELECT CAST(b.n_probe AS BIGINT) AS n_probe, b.query_id,
           CAST(ROUND(CAST(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
               / CAST(b.n_true AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
               AS recall_at_10
    FROM base b LEFT JOIN hits h
      ON b.n_probe = h.n_probe AND b.query_id = h.query_id
)
SELECT n_probe, query_id, recall_at_10 FROM rows_
UNION ALL
SELECT n_probe, CAST(-1 AS BIGINT) AS query_id,
       CAST(ROUND(CAST(CAST(SUM(CAST(recall_at_10 AS DECIMAL(10,4))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
FROM rows_
GROUP BY n_probe
ORDER BY n_probe, query_id
"""


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval (Jegou et al. 2011): 64 floats ->
    8 one-byte codes (one 16-centroid codebook per 8-dim subspace), ADC
    lookup-table scoring, shortlist-50, exact-cosine rerank - recall@10
    of BOTH stages vs the exact top-10. Completes the quantization
    family: int8 scalar (embedding_quantize), sign-bit Hamming
    (binary_quantization_recall), prefix truncation (matryoshka_recall),
    and now the codebook member every serving stack actually ships.

    Determinism: codebooks are the 16 lowest-id vectors' subvectors (the
    IVF seed rule); every subspace distance snaps at 6 dp BEFORE the
    argmin (ties -> lower centroid id), so codes are hash-stable; ADC
    sums the snapped per-subspace entries in exact DECIMAL; rankings
    tiebreak on neighbor_id everywhere.

    Scale: codes and the ADC table are scan-stage; the lookup join
    streams the 8n code rows against a broadcast queries x 8 x 16 table
    (the float vectors never enter the shortlist pass - the PQ point);
    only the 50-row-per-query rerank touches full precision.
    """
    e = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(e)
    subs = spark.range(0, 8).select(F.col("id").cast("int").alias("s"))

    def subvec(col, s_col):
        return F.slice(col, s_col * 8 + 1, 8)

    def l2s(a, b):
        return snap_round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )

    cents = (
        emb.filter(F.col("vec_id") < 16)
        .crossJoin(F.broadcast(subs))
        .select(
            F.col("vec_id").alias("cid"),
            "s",
            subvec(F.col("embedding"), F.col("s")).alias("c_sub"),
        )
    )
    codes = (
        emb.crossJoin(F.broadcast(subs))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "s",
            subvec(F.col("embedding"), F.col("s")).alias("v_sub"),
        )
        .join(F.broadcast(cents), "s")
        .groupBy("neighbor_id", "s")
        .agg(
            F.min(
                F.struct(l2s(F.col("v_sub"), F.col("c_sub")).alias("d2"), F.col("cid"))
            ).alias("m")
        )
        .select("neighbor_id", "s", F.col("m.cid").alias("code"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    adc_table = (
        queries.crossJoin(F.broadcast(subs))
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            subvec(F.col("embedding"), F.col("s")).alias("q_sub"),
        )
        .join(F.broadcast(cents), "s")
        .select(
            "query_id",
            "s",
            F.col("cid").alias("code"),
            l2s(F.col("q_sub"), F.col("c_sub"))
            .cast("decimal(18,6)")
            .alias("d2"),
        )
    )
    adc = (
        codes.join(F.broadcast(adc_table), ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").cast("decimal(28,6)").alias("adc_d2"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    shortlist = (
        adc.withColumn("arank", F.row_number().over(w_adc))
        .filter(F.col("arank") <= 50)
        .localCheckpoint()  # stage-1 top-10 AND the rerank reuse it
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    rer = (
        shortlist.join(corpus, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "arank",
            S.cosine(F.col("q_vec"), F.col("c_emb")).alias("cos"),
        )
    )
    w_rer = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    stage1 = rer.filter(F.col("arank") <= 10).select(
        "query_id", F.col("neighbor_id").alias("hit_id"), F.lit("adc").alias("stage")
    )
    stage2 = (
        rer.withColumn("rrank", F.row_number().over(w_rer))
        .filter(F.col("rrank") <= 10)
        .select(
            "query_id", F.col("neighbor_id").alias("hit_id"), F.lit("rerank").alias("stage")
        )
    )
    exact = q_similarity_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    both = stage1.unionByName(stage2)
    hits = both.join(
        exact,
        (both.query_id == exact.query_id) & (both.hit_id == exact.true_id),
    ).groupBy("stage", both.query_id).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    ).crossJoin(
        F.broadcast(
            spark.createDataFrame([("adc",), ("rerank",)], "stage string")
        )
    )
    return (
        base.join(hits, ["stage", "query_id"], "left")
        .select(
            "stage",
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "n_true",
            snap_round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_true").cast("double"),
                4,
            ).alias("recall_at_10"),
        )
        .orderBy("stage", "query_id")
    )


_PQ_L2S = (
    "CAST(ROUND(CAST(list_reduce(list_transform(range(1, 9), "
    "i -> (__A__[s * 8 + i] - __B__[s * 8 + i]) "
    "* (__A__[s * 8 + i] - __B__[s * 8 + i])), (a, b) -> a + b) "
    "AS DECIMAL(28,8)), 6) AS DOUBLE)"
)

PQ_RECALL_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
subs AS (SELECT UNNEST(generate_series(0, 7)) AS s),
cents AS (
    SELECT e.vec_id AS cid, s.s, e.v AS c_full
    FROM e CROSS JOIN subs s WHERE e.vec_id < 16
),
codes AS (
    SELECT neighbor_id, s, code FROM (
        SELECT n.vec_id AS neighbor_id, c.s, c.cid AS code,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id, c.s
                   ORDER BY {_PQ_L2S.replace("__A__", "n.v").replace("__B__", "c.c_full")},
                            c.cid) AS rk
        FROM e n CROSS JOIN cents c
    ) WHERE rk = 1
),
adc_table AS (
    SELECT q.vec_id AS query_id, c.s, c.cid AS code,
           CAST({_PQ_L2S.replace("__A__", "q.v").replace("__B__", "c.c_full")}
               AS DECIMAL(18,6)) AS d2
    FROM e q CROSS JOIN cents c
    WHERE q.vec_id < 5
),
adc AS (
    SELECT a.query_id, c.neighbor_id,
           CAST(SUM(a.d2) AS DECIMAL(28,6)) AS adc_d2
    FROM codes c JOIN adc_table a ON c.s = a.s AND c.code = a.code
    WHERE c.neighbor_id != a.query_id
    GROUP BY 1, 2
),
shortlist AS MATERIALIZED (
    SELECT query_id, neighbor_id, arank FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc_d2, neighbor_id) AS arank
        FROM adc
    ) WHERE arank <= 50
),
rer AS (
    SELECT s.query_id, s.neighbor_id, s.arank,
           {_COS_SQL.replace("q_vec", "q.v").replace("c_vec", "n.v")} AS cos
    FROM shortlist s
    JOIN e n ON s.neighbor_id = n.vec_id
    JOIN e q ON s.query_id = q.vec_id
),
stage1 AS (
    SELECT query_id, neighbor_id AS hit_id, 'adc' AS stage
    FROM rer WHERE arank <= 10
),
stage2 AS (
    SELECT query_id, neighbor_id AS hit_id, 'rerank' AS stage FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rrank
        FROM rer
    ) WHERE rrank <= 10
),
both_ AS (SELECT * FROM stage1 UNION ALL SELECT * FROM stage2),
exact AS (
    SELECT query_id, neighbor_id AS true_id FROM ({SIMILARITY_BRUTEFORCE_SQL})
),
hits AS (
    SELECT b.stage, b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM both_ b JOIN exact x
      ON b.query_id = x.query_id AND b.hit_id = x.true_id
    GROUP BY 1, 2
),
base AS (
    SELECT st.stage, x.query_id, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM exact x CROSS JOIN (SELECT UNNEST(['adc', 'rerank']) AS stage) st
    GROUP BY 1, 2
)
SELECT b.stage, b.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       b.n_true,
       CAST(ROUND(CAST(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
           / CAST(b.n_true AS DOUBLE) AS DECIMAL(28,8)), 4) AS DOUBLE)
           AS recall_at_10
FROM base b LEFT JOIN hits h
  ON b.stage = h.stage AND b.query_id = h.query_id
ORDER BY b.stage, b.query_id
"""


def q_centered_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-mean anisotropy repair check (Mu & Viswanath 2018's
    first step): re-measure the pair-cosine cone AFTER subtracting the
    corpus mean vector. embedding_anisotropy diagnoses the cone; this
    measures how much of it is just the common-mean component - if
    centering collapses mean cosine toward 0, a one-vector correction
    fixes every cosine threshold upstream; if not, the distortion is
    structural.

    The mean vector is a bounded 64-value collect (the ml.py covariance
    precedent) snapped at 6 dp per dimension, re-entering both engines
    as the SAME literal array; centering is a scan-stage zip; the pair
    construction, snapping and moments are embedding_anisotropy's
    verbatim (deterministic bucket-successor pairs). Reports raw and
    centered mean/std cosine side by side.
    """
    from candyspark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    means_rows = (
        e.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.round(
                (F.sum("val") / F.count(F.lit(1))).cast("decimal(18,6)"), 6
            )
            .cast("double")
            .alias("m")
        )
        .orderBy("pos")
        .collect()
    )
    mlit = F.array(*[F.lit(float(r.m)) for r in means_rows])
    b = e.select(
        (F.col("vec_id") % 64).alias("bucket"),
        "vec_id",
        "embedding",
        F.zip_with("embedding", mlit, lambda x, m: x - m).alias("centered"),
    )
    w = Window.partitionBy("bucket").orderBy("vec_id")
    paired = (
        b.select(
            "bucket",
            "vec_id",
            "embedding",
            "centered",
            F.lead("embedding").over(w).alias("nxt"),
            F.lead("centered").over(w).alias("nxt_c"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            cosine(F.col("embedding"), F.col("nxt")).alias("cr"),
            cosine(F.col("centered"), F.col("nxt_c")).alias("cc"),
        )
    )
    crd = F.col("cr").cast("decimal(10,6)")
    ccd = F.col("cc").cast("decimal(10,6)")
    sums = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(crd).alias("sr"),
        F.sum(crd * crd).alias("srr"),
        F.sum(ccd).alias("sc"),
        F.sum(ccd * ccd).alias("scc"),
    )
    n = F.col("n_pairs").cast("double")
    mean_r = F.col("sr").cast("double") / n
    mean_c = F.col("sc").cast("double") / n
    var_r = F.col("srr").cast("double") / n - mean_r * mean_r
    var_c = F.col("scc").cast("double") / n - mean_c * mean_c
    mr = snap_round(mean_r, 6)
    mc = snap_round(mean_c, 6)
    return sums.select(
        "n_pairs",
        mr.alias("mean_cos_raw"),
        snap_round(F.sqrt(F.greatest(var_r, F.lit(0.0))), 6).alias("std_cos_raw"),
        mc.alias("mean_cos_centered"),
        snap_round(F.sqrt(F.greatest(var_c, F.lit(0.0))), 6).alias(
            "std_cos_centered"
        ),
        (F.abs(mc) < F.abs(mr)).alias("centering_helps"),
    )


_CENTERED_COS = (
    "CAST(ROUND(CAST("
    "list_reduce(list_transform(range(1, 65), i -> __X__[i] * __Y__[i]), (a, b) -> a + b)"
    " / (sqrt(list_reduce(list_transform(range(1, 65), i -> __X__[i] * __X__[i]), (a, b) -> a + b))"
    " * sqrt(list_reduce(list_transform(range(1, 65), i -> __Y__[i] * __Y__[i]), (a, b) -> a + b)))"
    " AS DECIMAL(28,10)), 6) AS DOUBLE)"
)

CENTERED_ANISOTROPY_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
means AS (
    SELECT array_agg(m ORDER BY pos) AS mvec FROM (
        SELECT pos,
               CAST(ROUND(CAST(SUM(val) / COUNT(*) AS DECIMAL(18,6)), 6)
                   AS DOUBLE) AS m
        FROM (
            SELECT UNNEST(v) AS val,
                   UNNEST(generate_series(1, len(v))) AS pos
            FROM e
        ) GROUP BY pos
    )
),
b AS (
    SELECT vec_id % 64 AS bucket, vec_id, v,
           list_transform(range(1, 65), i -> v[i] - mvec[i]) AS cv
    FROM e CROSS JOIN means
),
paired AS (
    SELECT {_CENTERED_COS.replace("__X__", "v").replace("__Y__", "nxt")} AS cr,
           {_CENTERED_COS.replace("__X__", "cv").replace("__Y__", "nxt_c")} AS cc
    FROM (
        SELECT bucket, v, cv,
               LEAD(v) OVER (PARTITION BY bucket ORDER BY vec_id) AS nxt,
               LEAD(cv) OVER (PARTITION BY bucket ORDER BY vec_id) AS nxt_c
        FROM b
    ) WHERE nxt IS NOT NULL
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           SUM(CAST(cr AS DECIMAL(10,6))) AS sr,
           SUM(CAST(cr AS DECIMAL(10,6)) * CAST(cr AS DECIMAL(10,6))) AS srr,
           SUM(CAST(cc AS DECIMAL(10,6))) AS sc,
           SUM(CAST(cc AS DECIMAL(10,6)) * CAST(cc AS DECIMAL(10,6))) AS scc
    FROM paired
)
SELECT n_pairs,
       CAST(ROUND(CAST(CAST(sr AS DOUBLE) / n_pairs AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS mean_cos_raw,
       CAST(ROUND(CAST(SQRT(GREATEST(CAST(srr AS DOUBLE) / n_pairs
           - (CAST(sr AS DOUBLE) / n_pairs) * (CAST(sr AS DOUBLE) / n_pairs),
           0.0)) AS DECIMAL(28,8)), 6) AS DOUBLE) AS std_cos_raw,
       CAST(ROUND(CAST(CAST(sc AS DOUBLE) / n_pairs AS DECIMAL(28,8)), 6)
           AS DOUBLE) AS mean_cos_centered,
       CAST(ROUND(CAST(SQRT(GREATEST(CAST(scc AS DOUBLE) / n_pairs
           - (CAST(sc AS DOUBLE) / n_pairs) * (CAST(sc AS DOUBLE) / n_pairs),
           0.0)) AS DECIMAL(28,8)), 6) AS DOUBLE) AS std_cos_centered,
       ABS(CAST(ROUND(CAST(CAST(sc AS DOUBLE) / n_pairs AS DECIMAL(28,8)), 6)
           AS DOUBLE))
         < ABS(CAST(ROUND(CAST(CAST(sr AS DOUBLE) / n_pairs
           AS DECIMAL(28,8)), 6) AS DOUBLE)) AS centering_helps
FROM sums
"""


# --- round 5: n-gram novelty (forward-contamination profile) ---------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: for each document (doc_id order = arrival
    order), the share of its word-3-gram shingle OCCURRENCES (duplicate
    shingles within a doc each count — the explode is deliberately not
    array_distinct'd, so repetitive docs weight their repeats) NOT seen in any
    earlier document — the forward direction of contamination_check, and
    the curve a curation pipeline watches to decide when a source is
    mined out (novelty decaying toward 0 = the crawler is re-reading the
    same text). One shingle explode + one groupBy(shingle) for the global
    first-seen owner (the minhash shuffle shape — linear, never pairwise),
    joined back and rolled up per source. Per-doc fractions snap to
    decimal BEFORE the per-source mean so the cross-engine sum is
    order-free."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id", "source", F.explode(D.word_shingles("text", 3)).alias("sh")
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "sh")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "source",
            F.round(
                (F.col("n_novel").cast("double") / F.col("n_sh").cast("double")).cast(
                    "decimal(28,9)"
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("novelty"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                (
                    F.sum("novelty").cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).cast("decimal(28,8)"),
                6,
            )
            .cast("double")
            .alias("mean_novelty"),
        )
        .orderBy("source")
    )


NGRAM_NOVELTY_SQL = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, source, {_SHINGLES} AS sh_list FROM t),
sh AS (SELECT doc_id, source, unnest(sh_list) AS sh FROM s),
first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh),
per_doc AS (
    SELECT source,
           CAST(ROUND(CAST(
               CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)
               AS DECIMAL(28,9)), 9) AS DECIMAL(20,9)) AS novelty
    FROM sh JOIN first USING (sh)
    GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(CAST(CAST(SUM(novelty) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_novelty
FROM per_doc
GROUP BY source
ORDER BY source
"""


# --- round 5: per-band LSH diagnostics --------------------------------------


def q_lsh_band_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH health report: for each of the 8 bands, how many
    candidate pairs it proposes and what fraction survive exact-Jaccard
    verification at 0.5 (1 - precision = the band's false-positive rate).
    THE tuning read for the dedup_minhash family: a band whose FPR runs
    hot multiplies verification cost at 100 TB (candidates, not documents,
    are the cost driver once banding works), and band-to-band imbalance
    reveals signature correlation bugs (see operators/dedup.perm_consts —
    this query would have caught the correlated-permutation bug as 8
    identical bands). Same shuffle economics as dedup_minhash: band keys
    travel, shingles re-join only for the candidate verification."""
    d = load_table(spark, sf_dir, "documents")
    df = fan_out(d)
    sh_tbl = df.select(F.col("doc_id"), D.word_shingles("text", 3).alias("sh"))
    sigs = df.select(
        "doc_id", D.shingle_hashes("text").alias("shh")
    ).select("doc_id", D.minhash_signature(F.col("shh")).alias("sig"))
    banded = sigs.select(
        "doc_id",
        F.explode(D.band_keys(F.col("sig"), D.BANDS)).alias("bk"),
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select("band", F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )
    verified = (
        cand.join(
            sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "band",
            (
                D.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5
            ).cast("long").alias("is_true"),
        )
    )
    return (
        verified.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("is_true").cast("long").alias("n_true_pairs"),
        )
        .select(
            F.col("band").cast("long").alias("band"),
            "n_candidates",
            "n_true_pairs",
            F.round(
                (
                    1.0
                    - F.col("n_true_pairs").cast("double")
                    / F.col("n_candidates").cast("double")
                ).cast("decimal(28,8)"),
                6,
            )
            .cast("double")
            .alias("fpr"),
        )
        .orderBy("band")
    )


LSH_BAND_FPR_SQL = f"""
WITH {_MINHASH_CAND_CTES.replace(
    '''cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)''',
    '''cand AS (SELECT x.band AS band, x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)''')},
verified AS (
    SELECT band,
           CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
                AND CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / len(list_distinct(sa.sh || sb.sh)) >= 0.5
                THEN 1 ELSE 0 END AS is_true
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(is_true) AS BIGINT) AS n_true_pairs,
       CAST(ROUND(CAST(1.0 - CAST(SUM(is_true) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS fpr
FROM verified
GROUP BY band
ORDER BY band
"""


# --- round 6: LSH parameter planner ----------------------------------------


def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding PLANNER (round 6): for each way of splitting the 32-slot
    MinHash signature into (bands b × rows r), fold the analytic S-curve
    P(candidate | J=s) = 1 − (1 − s^r)^b over the corpus's OBSERVED
    verified-pair similarity histogram (dedup_minhash's pairs, 0.05-wide
    bins at midpoints) — expected recall for THIS corpus's duplicate
    profile, not a textbook curve at an assumed s. The tuning question it
    answers before re-sharding a 100-TB dedup run: which banding keeps
    recall while 2^r-ing down candidate volume. The pair relation is tiny
    (post-LSH verified pairs), the parameter grid is 4 rows, and the
    histogram is ≤ 20 cells — everything after the shared pair scan is
    broadcast-sized.

    Determinism: s^r and (1−x)^b for r, b ∈ {2,4,8,16} are computed by
    EXPLICIT repeated squaring (s2 = s·s, s4 = s2·s2, …) — plain IEEE
    multiplies both engines agree on bit-for-bit — never libm pow, which
    is not cross-engine stable (the statespace exp/log rule). One snap at
    the output edge."""
    pairs = q_dedup_minhash(spark, sf_dir)
    hist = (
        pairs.select(
            (F.floor(F.col("jaccard_sim") / 0.05) * 0.05 + 0.025).alias("s_mid")
        )
        .groupBy("s_mid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    grid = spark.createDataFrame(
        [(2, 16), (4, 8), (8, 4), (16, 2)], "rows_per_band int, bands int"
    )

    def pow_sq(base, e_col_name: str):
        # base^e via squaring chain for e ∈ {2,4,8,16}
        p2 = base * base
        p4 = p2 * p2
        p8 = p4 * p4
        p16 = p8 * p8
        e = F.col(e_col_name)
        return (
            F.when(e == 2, p2).when(e == 4, p4).when(e == 8, p8).otherwise(p16)
        )

    joined = hist.crossJoin(F.broadcast(grid))
    p_cand = 1.0 - pow_sq(1.0 - pow_sq(F.col("s_mid"), "rows_per_band"), "bands")
    return (
        joined.select(
            "rows_per_band", "bands", "n_pairs", p_cand.alias("p"),
        )
        .groupBy("rows_per_band", "bands")
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            # per-cell term snaps to decimal BEFORE the sum so the
            # cross-partition accumulation is exact and order-free
            snap_round(
                F.sum(
                    (F.col("p") * F.col("n_pairs")).cast("decimal(28,12)")
                ).cast("double")
                / F.sum("n_pairs"),
                6,
            ).alias("expected_recall"),
        )
        .orderBy("rows_per_band")
    )


LSH_TUNING_CURVE_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_SQL}),
hist AS (
    SELECT FLOOR(jaccard_sim / 0.05) * 0.05 + 0.025 AS s_mid,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
),
grid AS (SELECT * FROM (VALUES (2, 16), (4, 8), (8, 4), (16, 2)) g(rows_per_band, bands)),
curve AS (
    SELECT rows_per_band, bands, n_pairs,
           1.0 - CASE bands
               WHEN 2 THEN q2 WHEN 4 THEN q4 WHEN 8 THEN q8 ELSE q16 END AS p
    FROM (
        SELECT rows_per_band, bands, n_pairs,
               qq * qq AS q2, (qq * qq) * (qq * qq) AS q4,
               ((qq * qq) * (qq * qq)) * ((qq * qq) * (qq * qq)) AS q8,
               (((qq * qq) * (qq * qq)) * ((qq * qq) * (qq * qq)))
               * (((qq * qq) * (qq * qq)) * ((qq * qq) * (qq * qq))) AS q16
        FROM (
            SELECT rows_per_band, bands, n_pairs,
                   1.0 - CASE rows_per_band
                       WHEN 2 THEN s2 WHEN 4 THEN s4 WHEN 8 THEN s8 ELSE s16 END AS qq
            FROM (
                SELECT rows_per_band, bands, n_pairs,
                       s_mid * s_mid AS s2,
                       (s_mid * s_mid) * (s_mid * s_mid) AS s4,
                       ((s_mid * s_mid) * (s_mid * s_mid))
                       * ((s_mid * s_mid) * (s_mid * s_mid)) AS s8,
                       (((s_mid * s_mid) * (s_mid * s_mid))
                        * ((s_mid * s_mid) * (s_mid * s_mid)))
                       * (((s_mid * s_mid) * (s_mid * s_mid))
                          * ((s_mid * s_mid) * (s_mid * s_mid))) AS s16
                FROM hist CROSS JOIN grid
            )
        )
    )
)
SELECT rows_per_band, bands,
       CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
       CAST(ROUND(CAST(
           CAST(SUM(CAST(p * n_pairs AS DECIMAL(28,12))) AS DOUBLE)
           / SUM(n_pairs) AS DECIMAL(28,8)), 6)
            AS DOUBLE) AS expected_recall
FROM curve
GROUP BY rows_per_band, bands
ORDER BY rows_per_band
"""
