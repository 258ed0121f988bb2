"""In-engine machine learning: model TRAINING as relational aggregation.

Extension surface — the reference has no learning of any kind; its one
"model" is the Prophet forecast call (SURVEY.md §2.12). These queries show
the engine training and evaluating models where the data lives, with the
same oracle-checked determinism discipline as every other plan:

- ``naive_bayes_langid`` — a multinomial Naive Bayes language classifier
  trained on a content-hash split of the documents table and evaluated on
  the held-out slice, entirely as joins + aggregates. The classic
  ML-in-SQL construction: per-(lang, term) counts ARE the model, Laplace
  smoothing folds missing terms into a per-language constant (see the
  docstring algebra), and scoring is a LEFT join + one aggregate.
- ``pca_top_component`` — the leading principal component of the embedding
  table via exact relational covariance sums + a deterministic driver-side
  power iteration on the tiny d×d matrix (rows-only: no SQL oracle for an
  eigensolver; test_ml pins it against numpy's eigendecomposition).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from candyspark.functions.numeric import snap_round
from candyspark.operators import text as X
from candyspark.plans.extensions import _TOKS, TEXT_STATS_SQL
from candyspark.sources.readers import fan_out, load_table


def q_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID, trained AND evaluated in one
    Catalyst plan: an 80/20 content-hash split (md5 of doc_id — the
    dataset_split discipline, never rand()), per-(lang, term) token counts
    as the model, Laplace(+1) smoothing, and held-out scoring by LEFT join.

    The smoothing algebra that makes missing terms free: score(doc, lang)
    = ln prior + Σ_tokens ln(n_{lang,term} + 1) − n_tokens·ln(n_lang + V).
    Terms unseen for a language contribute ln(1) = 0 to the sum, so the
    join only has to find PRESENT (lang, term) pairs — no dense
    vocabulary × language matrix is ever materialized. Each ln term is
    snapped to DECIMAL(18,9) BEFORE summing (raw double sums are
    partial-order-dependent); argmax ties break on lang.

    Output: the held-out confusion matrix with per-row share — the same
    evaluation shape as q_langid_confusion, now for a TRAINED model.
    Scale: model = one (lang, term)-keyed aggregate over train tokens;
    scoring = one term-keyed join + one doc-keyed aggregate; the
    language constants are a ≤langs-row broadcast.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    split = X.char_hash32(F.col("doc_id").cast("string")) % 5
    docs = d.select("doc_id", "lang", "text").withColumn(
        "is_test", (split == 0).cast("int")
    )
    # the token relation feeds FIVE consumers (model, totals, vocab, test
    # scoring, doc lengths) and the model two — materialize each once (the
    # multi-consumer-subtree lesson, SCALE.md).
    toks = docs.select(
        "doc_id", "lang", "is_test", F.explode(X.tokens("text")).alias("term")
    ).localCheckpoint()
    train_toks = toks.filter(F.col("is_test") == 0)

    model = train_toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("n_lt")
    ).localCheckpoint()
    lang_tot = train_toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    vocab = model.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
    doc_prior = (
        docs.filter(F.col("is_test") == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_l"))
    )
    n_train = docs.filter(F.col("is_test") == 0).agg(
        F.count(F.lit(1)).alias("n_train")
    )
    consts = (
        lang_tot.join(doc_prior, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col("lang").alias("cand_lang"),
            snap_round(
                F.log(F.col("n_docs_l") / F.col("n_train").cast("double")), 9
            ).alias("log_prior"),
            snap_round(
                F.log((F.col("n_l") + F.col("v")).cast("double")), 9
            ).alias("log_denom"),
        )
    )

    test_toks = toks.filter(F.col("is_test") == 1)
    # per (doc, candidate lang): Σ ln(n_lt + 1) over PRESENT pairs only
    hits = (
        test_toks.join(
            model.withColumnRenamed("lang", "cand_lang"), "term"
        )
        .groupBy("doc_id", "cand_lang")
        .agg(
            F.sum(
                F.round(F.log(F.col("n_lt") + 1.0).cast("decimal(18,9)"), 9).cast(
                    "decimal(18,9)"
                )
            ).alias("hit_sum")
        )
    )
    doc_len = test_toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.first("lang").alias("true_lang")
    )
    scored = (
        doc_len.crossJoin(F.broadcast(consts))
        .join(hits, ["doc_id", "cand_lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand_lang",
            (
                F.col("log_prior")
                + F.coalesce(F.col("hit_sum").cast("double"), F.lit(0.0))
                - F.col("n_tokens") * F.col("log_denom")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand_lang")
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    m = pred.groupBy("true_lang", F.col("cand_lang").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    row_w = Window.partitionBy("true_lang")
    return (
        m.withColumn(
            "row_share",
            snap_round(F.col("n_docs") / F.sum("n_docs").over(row_w), 6),
        )
        .orderBy("true_lang", "pred_lang")
    )


_SPLIT_SQL = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5"

NAIVE_BAYES_LANGID_SQL = f"""
WITH docs AS (
    SELECT doc_id, lang, text,
           CASE WHEN {_SPLIT_SQL} = 0 THEN 1 ELSE 0 END AS is_test
    FROM documents
),
toks AS (
    SELECT doc_id, lang, is_test, unnest({_TOKS}) AS term FROM docs
),
model AS (
    SELECT lang, term, COUNT(*) AS n_lt
    FROM toks WHERE is_test = 0 GROUP BY lang, term
),
lang_tot AS (
    SELECT lang, COUNT(*) AS n_l FROM toks WHERE is_test = 0 GROUP BY lang
),
vocab AS (SELECT COUNT(DISTINCT term) AS v FROM model),
doc_prior AS (
    SELECT lang, COUNT(*) AS n_docs_l FROM docs WHERE is_test = 0 GROUP BY lang
),
n_train AS (SELECT COUNT(*) AS n_train FROM docs WHERE is_test = 0),
consts AS (
    SELECT lt.lang AS cand_lang,
           CAST(ROUND(CAST(LN(CAST(n_docs_l AS DOUBLE) / n_train) AS DECIMAL(28,9)), 9)
                AS DOUBLE) AS log_prior,
           CAST(ROUND(CAST(LN(CAST(n_l + v AS DOUBLE)) AS DECIMAL(28,9)), 9)
                AS DOUBLE) AS log_denom
    FROM lang_tot lt JOIN doc_prior dp ON lt.lang = dp.lang
    CROSS JOIN vocab CROSS JOIN n_train
),
test_toks AS (SELECT * FROM toks WHERE is_test = 1),
hits AS (
    SELECT t.doc_id, m.lang AS cand_lang,
           SUM(CAST(ROUND(CAST(LN(n_lt + 1.0) AS DECIMAL(18,9)), 9)
               AS DECIMAL(18,9))) AS hit_sum
    FROM test_toks t JOIN model m ON t.term = m.term
    GROUP BY t.doc_id, m.lang
),
doc_len AS (
    SELECT doc_id, COUNT(*) AS n_tokens, MIN(lang) AS true_lang
    FROM test_toks GROUP BY doc_id
),
scored AS (
    SELECT dl.doc_id, dl.true_lang, c.cand_lang,
           c.log_prior + COALESCE(CAST(h.hit_sum AS DOUBLE), 0.0)
             - dl.n_tokens * c.log_denom AS score
    FROM doc_len dl
    CROSS JOIN consts c
    LEFT JOIN hits h ON h.doc_id = dl.doc_id AND h.cand_lang = c.cand_lang
),
pred AS (
    SELECT doc_id, true_lang, cand_lang AS pred_lang
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, cand_lang) AS rn
        FROM scored
    ) WHERE rn = 1
),
m AS (
    SELECT true_lang, pred_lang, COUNT(*) AS n_docs
    FROM pred GROUP BY true_lang, pred_lang
)
SELECT true_lang, pred_lang, n_docs,
       CAST(ROUND(CAST(CAST(n_docs AS DOUBLE)
                       / SUM(n_docs) OVER (PARTITION BY true_lang)
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS row_share
FROM m
ORDER BY true_lang, pred_lang
"""


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding cloud: the d×d
    covariance matrix is computed as EXACT relational sums (per-(i, j)
    Σxᵢxⱼ from a bounded self-pairing of the posexploded coordinates —
    d is fixed, so the d²-per-row fan-out is a constant factor), then a
    deterministic fixed-iteration power method runs driver-side on the
    tiny collected matrix (64×64 doubles — driver linear algebra on a
    bounded object is sanctioned; the DATA never leaves the cluster).

    Hash-checked since round 6 (was the registry's last non-sketch
    rows-only entry): the power method is a sequential recurrence, so the
    DuckDB oracle unrolls it as a 300-step recursive CTE over a
    MATERIALIZED covariance matrix (without MATERIALIZED DuckDB re-inlines
    the cov CTE into every iteration — measured 241 s → 1.5 s). Bit-parity
    holds because every float op on both sides is an IEEE correctly-rounded
    add/mul/div/sqrt in the same sequential order: Python `sum()` starts
    0 + x₀ (exact) = DuckDB `list_reduce`'s first-element seed, and both
    `math.sqrt` and DuckDB `sqrt` are the correctly-rounded hardware root
    (`** 0.5` goes through libm `pow` and is NOT — see the round-6 fix).
    test_ml additionally pins the result against numpy's eigendecomposition.
    Output: one row per dimension with the component loading, plus the
    explained-variance ratio.
    """
    e = load_table(spark, sf_dir, "embeddings")
    coords = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "xi")
    ).select("vec_id", "i", F.col("xi").cast("decimal(18,9)").alias("xi"))
    n_mean = coords.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xi").alias("si")
    )
    # per-row outer product generated IN-SCAN (transform × transform →
    # flatten → explode) instead of self-joining the exploded coordinate
    # fact on vec_id: the d²-per-row fan-out is identical, but the two
    # wide shuffles of the join disappear and the (i, j) aggregate
    # map-side-combines over 4096 cells (round 4; measured 6.5 → ~2 s at
    # sf0.1; the decimal addends — (18,9)² products summed in (38,18) —
    # are unchanged, so the numpy-pinned result is bit-identical)
    pair = F.explode(
        F.flatten(
            F.transform(
                "embedding",
                lambda x, i: F.transform(
                    F.col("embedding"),
                    lambda y, j: F.struct(
                        i.alias("i"),
                        j.alias("j"),
                        (
                            x.cast("decimal(18,9)") * y.cast("decimal(18,9)")
                        ).alias("p"),
                    ),
                ),
            )
        )
    )
    # the embeddings table lands as ~1 file partition — fan_out the
    # vectors first or the whole d²·n outer product runs on one core
    # (no-op once the real input already exceeds defaultParallelism)
    prods = (
        fan_out(e)
        .select(pair.alias("s"))
        .groupBy(F.col("s.i").alias("i"), F.col("s.j").alias("j"))
        .agg(F.sum(F.col("s.p").cast("decimal(38,18)")).alias("sij"))
    )
    rows = (
        prods.join(n_mean.select(F.col("i"), F.col("n"), F.col("si").alias("si_i")), "i")
        .join(
            n_mean.select(F.col("i").alias("j"), F.col("si").alias("si_j")),
            "j",
        )
        .select(
            "i",
            "j",
            (
                (F.col("sij").cast("double")
                 - F.col("si_i").cast("double") * F.col("si_j").cast("double")
                 / F.col("n"))
                / (F.col("n") - 1)
            ).alias("cov"),
        )
        .collect()
    )
    if not rows:  # empty input: schema-stable empty result (the 100-TB
        # empty-partition case — test_empty_inputs sweeps every query)
        return spark.createDataFrame(
            [], "dim int, loading double, explained_variance_ratio double"
        )
    d_dim = max(r["i"] for r in rows) + 1
    cov = [[0.0] * d_dim for _ in range(d_dim)]
    for r in rows:
        cov[r["i"]][r["j"]] = r["cov"]
    # trace summed in INDEX order (not collect order — round 6: the old
    # `+=` over collect order was latently nondeterministic and blocked
    # the recursive-CTE oracle, which folds the diagonal in i order)
    total_var = sum(cov[i][i] for i in range(d_dim))
    # fixed-iteration power method with a deterministic start — bit-stable
    # across runs (no RNG, no convergence-threshold branching). Every float
    # op below is an IEEE correctly-rounded add/mul/div/sqrt in a fixed
    # sequential order, so the DuckDB oracle's recursive CTE (same order,
    # same ops — math.sqrt, NOT `** 0.5`, which goes through libm pow and
    # is not correctly-rounded) reproduces the state bit-for-bit.
    v = [1.0 / math.sqrt(d_dim)] * d_dim
    for _ in range(300):
        w_vec = [sum(cov[i][j] * v[j] for j in range(d_dim)) for i in range(d_dim)]
        norm = math.sqrt(sum(x * x for x in w_vec))
        v = [x / norm for x in w_vec]
    eig = sum(
        v[i] * sum(cov[i][j] * v[j] for j in range(d_dim)) for i in range(d_dim)
    )
    # pin the sign: largest-|loading| coordinate is positive (first index
    # on ties — the oracle mirrors with ORDER BY abs DESC, index ASC)
    pivot = max(range(d_dim), key=lambda i: abs(v[i]))
    if v[pivot] < 0:
        v = [-x for x in v]
    out = [(i, v[i], eig / total_var) for i in range(d_dim)]
    # snap Spark-side through the shared decimal discipline (Python's
    # round() is banker's — tie-divergent vs the oracle's ROUND)
    return spark.createDataFrame(
        out, "dim int, loading double, explained_variance_ratio double"
    ).select(
        "dim",
        snap_round(F.col("loading"), 6).alias("loading"),
        snap_round(F.col("explained_variance_ratio"), 6).alias(
            "explained_variance_ratio"
        ),
    )


PCA_TOP_COMPONENT_SQL = """
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
coords AS (
    SELECT vec_id, r.i, CAST(v[r.i] AS DECIMAL(18,9)) AS xi
    FROM e CROSS JOIN range(1, 65) r(i)
),
prods AS (
    SELECT a.i AS i, b.i AS j, SUM(CAST(a.xi * b.xi AS DECIMAL(38,18))) AS sij
    FROM coords a JOIN coords b USING (vec_id)
    GROUP BY a.i, b.i
),
nm AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n, SUM(xi) AS si FROM coords GROUP BY i),
cov AS (
    SELECT p.i, p.j,
           (CAST(p.sij AS DOUBLE)
            - CAST(a.si AS DOUBLE) * CAST(b.si AS DOUBLE) / a.n)
           / (a.n - 1) AS c
    FROM prods p JOIN nm a ON a.i = p.i JOIN nm b ON b.i = p.j
),
mat AS MATERIALIZED (
    SELECT list(cl ORDER BY i) AS m
    FROM (SELECT i, list(c ORDER BY j) AS cl FROM cov GROUP BY i)
),
tv AS (
    SELECT list_reduce(list(c ORDER BY i), (a, b) -> a + b) AS total_var
    FROM cov WHERE i = j
),
it AS (
    SELECT 0 AS k, list_transform(range(1, 65), i -> 1.0 / sqrt(64.0)) AS v
    UNION ALL
    SELECT k + 1,
           list_transform(w, x -> x / sqrt(list_reduce(
               list_transform(w, y -> y * y), (a, b) -> a + b)))
    FROM (
        SELECT k,
               list_transform(m, row -> list_reduce(
                   list_transform(range(1, 65), j -> row[j] * v[j]),
                   (a, b) -> a + b)) AS w
        FROM it, mat WHERE k < 300
    )
),
fin AS (SELECT v FROM it WHERE k = 300),
sgn AS (
    SELECT CASE WHEN v[(
        SELECT r.i FROM range(1, 65) r(i), fin
        ORDER BY abs(v[r.i]) DESC, r.i ASC LIMIT 1
    )] < 0 THEN -1.0 ELSE 1.0 END AS s
    FROM fin
),
eig AS (
    SELECT list_reduce(list_transform(range(1, 65),
               i -> v[i] * list_reduce(
                   list_transform(range(1, 65), j -> m[i][j] * v[j]),
                   (a, b) -> a + b)),
           (a, b) -> a + b) AS e
    FROM fin, mat
)
SELECT CAST(r.i - 1 AS INT) AS dim,
       CAST(ROUND(CAST(sgn.s * fin.v[r.i] AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS loading,
       CAST(ROUND(CAST(eig.e / tv.total_var AS DECIMAL(28,8)), 6) AS DOUBLE)
           AS explained_variance_ratio
FROM range(1, 65) r(i), fin, sgn, eig, tv
"""


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based corpus filtering (the CCNet recipe): a Laplace-
    smoothed bigram language model trained on the 80% content-hash split
    scores the held-out 20%, and each document's perplexity becomes the
    keep/flag signal — the standard "does this text look like the
    reference corpus" curation gate of LLM data pipelines.

    The same missing-term algebra as Naive Bayes, one level up: per test
    bigram (w1, w2), ln p = ln(c12 + 1) − ln(c1 + V), where an UNSEEN
    bigram contributes ln(1) = 0 to the first part (LEFT join finds only
    present pairs) and an unseen w1 degrades to ln(V) in the second —
    both joins stay sparse, no dense transition matrix exists. Each ln is
    snapped to DECIMAL(18,9) before the per-doc sum (exact,
    order-independent); perplexity = exp(−Σ/N) snaps at the edge.

    Scale: model = one (w1, w2) aggregate over train bigrams; scoring =
    two keyed LEFT joins + one doc aggregate. Output: per held-out doc,
    its bigram count, perplexity, and the gate flag (above twice the
    smoothed-uniform floor ≈ obvious junk).
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    split = X.char_hash32(F.col("doc_id").cast("string")) % 5
    toks = F.col("toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    docs = (
        d.select("doc_id", X.tokens("text").alias("toks"))
        .withColumn("is_test", (split == 0).cast("int"))
        .select("doc_id", "is_test", F.explode(pairs).alias("bg"))
        .select("doc_id", "is_test", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .localCheckpoint()  # model, unigrams, and the scoring pass all consume it
    )
    train = docs.filter(F.col("is_test") == 0)
    bigram_cnt = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    unigram_cnt = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = train.select("w2").distinct().agg(F.count(F.lit(1)).alias("v"))
    test = docs.filter(F.col("is_test") == 1)
    scored = (
        test.join(bigram_cnt, ["w1", "w2"], "left")
        .join(unigram_cnt, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                F.round(
                    F.log(F.coalesce(F.col("c12"), F.lit(0)) + 1.0).cast(
                        "decimal(18,9)"
                    ),
                    9,
                ).cast("decimal(18,9)")
                - F.round(
                    F.log(
                        (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
                    ).cast("decimal(18,9)"),
                    9,
                ).cast("decimal(18,9)")
            ).alias("logp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("logp").alias("ll"),
    )
    ppl = F.exp(-(F.col("ll").cast("double")) / F.col("n_bigrams"))
    return (
        per_doc.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "n_bigrams",
            snap_round(ppl, 4).alias("perplexity"),
            (ppl > 0.5 * F.col("v")).cast("int").alias("flag_junk"),
        )
        .orderBy("doc_id")
    )


PERPLEXITY_FILTER_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS toks,
           CASE WHEN {_SPLIT_SQL} = 0 THEN 1 ELSE 0 END AS is_test
    FROM documents
),
docs AS (
    SELECT doc_id, is_test, p.w1 AS w1, p.w2 AS w2
    FROM (
        SELECT doc_id, is_test,
               unnest(list_transform(range(1, len(toks)),
                                     i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS p
        FROM t
    )
),
bigram_cnt AS (
    SELECT w1, w2, COUNT(*) AS c12 FROM docs WHERE is_test = 0 GROUP BY w1, w2
),
unigram_cnt AS (
    SELECT w1, COUNT(*) AS c1 FROM docs WHERE is_test = 0 GROUP BY w1
),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM docs WHERE is_test = 0),
scored AS (
    SELECT d.doc_id,
           CAST(ROUND(CAST(LN(COALESCE(c12, 0) + 1.0) AS DECIMAL(18,9)), 9)
                AS DECIMAL(18,9))
           - CAST(ROUND(CAST(LN(CAST(COALESCE(c1, 0) + v AS DOUBLE)) AS DECIMAL(18,9)), 9)
                AS DECIMAL(18,9)) AS logp
    FROM docs d
    LEFT JOIN bigram_cnt b ON d.w1 = b.w1 AND d.w2 = b.w2
    LEFT JOIN unigram_cnt u ON d.w1 = u.w1
    CROSS JOIN vocab
    WHERE d.is_test = 1
),
per_doc AS (
    SELECT doc_id, COUNT(*) AS n_bigrams, SUM(logp) AS ll
    FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       CAST(ROUND(CAST(EXP(-CAST(ll AS DOUBLE) / n_bigrams) AS DECIMAL(28,8)), 4)
            AS DOUBLE) AS perplexity,
       CAST(CASE WHEN EXP(-CAST(ll AS DOUBLE) / n_bigrams) > 0.5 * v
                 THEN 1 ELSE 0 END AS INTEGER) AS flag_junk
FROM per_doc CROSS JOIN vocab
ORDER BY doc_id
"""


_CHANNELS = ("click", "signup", "view")


def _absorbing_conv_prob(
    states: list[str],
    mat: dict[str, dict[str, int]],
    absorb_conv: str,
    removed: str | None,
) -> float:
    """P(absorb in ``absorb_conv`` | start at states[0]) for a first-order
    absorbing chain with transition COUNTS ``mat``, with ``removed``'s
    outgoing mass sent to the null absorber: solve (I - Q)x = b by
    deterministic Gaussian elimination with partial pivoting. A state whose
    observed transitions are 100% self-loop yields a zero diagonal
    (1 - p_self = 0); pivoting swaps in the largest |A[r][col]| among the
    unpivoted rows, and if the whole column is (near-)zero the state has no
    absorbing path — its x is pinned to 0 (the same contract as the
    no-observed-transitions guard)."""
    n = len(states)
    A = [[(1.0 if i == j else 0.0) for j in range(n)] for i in range(n)]
    b = [0.0] * n
    for i, s in enumerate(states):
        if s == removed:
            continue  # all mass to NULL: row stays x_i = 0
        row = mat[s]
        tot = sum(row.values())
        if tot == 0:
            continue
        for dst, c in sorted(row.items()):
            p = c / tot
            if dst == absorb_conv:
                b[i] += p
            elif dst in states and dst != removed:
                A[i][states.index(dst)] -= p
    for col in range(n):
        r_max = max(range(col, n), key=lambda r: abs(A[r][col]))
        if abs(A[r_max][col]) < 1e-12:
            A[col] = [(1.0 if j == col else 0.0) for j in range(n)]
            b[col] = 0.0
        elif r_max != col:
            A[col], A[r_max] = A[r_max], A[col]
            b[col], b[r_max] = b[r_max], b[col]
        piv = A[col][col]
        for r2 in range(n):
            if r2 == col:
                continue
            f = A[r2][col] / piv
            if f == 0.0:
                continue
            for c2 in range(n):
                A[r2][c2] -= f * A[col][c2]
            b[r2] -= f * b[col]
    return b[0] / A[0][0]


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution: each channel's
    credit is how much the overall conversion probability DROPS when that
    channel is deleted from the first-order journey chain — the
    industry's principled alternative to rule-based credit
    (linear/U-shaped attribution in plans/sequences.py).

    Journeys: per user, the view/click/signup events up to the FIRST
    purchase in (ts, event_id) total order; START precedes the first
    touch; purchase absorbs to CONV, journey end without purchase absorbs
    to NULL. Transition COUNTS are one relational window+aggregate pass;
    the absorbing-chain solve runs driver-side on the collected ≤4×6
    matrix (schema-bounded — the PCA rule), with deterministic Gaussian
    elimination; removal re-solves the same tiny system per channel.

    Oracle: the ≤4×4 solve IS SQL-expressible once the elimination is
    unrolled (the source_set_cover precedent — bounded driver iterations
    become bounded SQL stages): _markov_attribution_sql() generates the
    SAME fixed-order Gauss-Jordan the driver runs, one CTE per pivot
    column per variant, so every double is produced by the identical IEEE
    op sequence in both engines and the driver hash matches bit-exactly.
    The SQL mirror skips the partial-pivot swap and the zero-pivot guard
    (the fixture's chains are diagonally dominant, so the driver's pivot
    search always selects the natural order — asserted in test_ml);
    test_ml also still recomputes the solves independently with numpy.
    """
    e = load_table(spark, sf_dir, "events")
    first_p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    ev = (
        e.filter(F.col("event_type").isin(*_CHANNELS, "purchase"))
        .join(first_p, "user_id", "left")
        .filter(F.col("p_ts").isNull() | (F.col("ts") <= F.col("p_ts")))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("next_state"),
    )
    # START precedes the first event of EVERY journey (including the
    # touchless START→purchase ones — dropping them skews the START row);
    # interior transitions never leave the absorbing purchase state.
    trans = seq.filter(F.col("state") != "purchase").select(
        F.col("state").alias("src"),
        F.coalesce(F.col("next_state"), F.lit("NULL")).alias("dst"),
    )
    starts = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("state").alias("dst")
    )
    counts = (
        trans.unionByName(starts)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    states = ["START", *_CHANNELS]
    mat = {s: {} for s in states}
    for r in counts:
        if r["src"] in mat:
            mat[r["src"]][r["dst"]] = r["n"]

    def conv_prob(removed: str | None) -> float:
        return _absorbing_conv_prob(states, mat, "purchase", removed)

    base = conv_prob(None)
    effects = {ch: max(base - conv_prob(ch), 0.0) for ch in _CHANNELS}
    total = sum(effects.values()) or 1.0
    rows = [(ch, base, effects[ch], effects[ch] / total) for ch in _CHANNELS]
    raw = spark.createDataFrame(
        rows,
        "channel string, base_conversion double, removal_effect double, "
        "attribution_share double",
    )
    # snap through the shared decimal(28,8) discipline (NOT Python round,
    # whose half-even ties differ from the oracle's decimal rounding)
    return raw.select(
        "channel",
        snap_round(F.col("base_conversion"), 6).alias("base_conversion"),
        snap_round(F.col("removal_effect"), 6).alias("removal_effect"),
        snap_round(F.col("attribution_share"), 6).alias("attribution_share"),
    ).orderBy("channel")


def _markov_attribution_sql() -> str:
    """Generate the DuckDB oracle for q_markov_attribution: the transition
    counts are one relational pass (identical to the Spark plan), and each
    of the 4 absorbing-chain solves (base + one per removed channel) is the
    driver's fixed-order Gauss-Jordan unrolled into 4 CTE stages — the same
    subtract-f-times-pivot-row updates on the same doubles, so the results
    are bit-identical, not merely close."""
    states = ["START", *_CHANNELS]
    dsts = [*_CHANNELS, "purchase", "NULL"]
    # 1-row wide relation of transition counts + per-source totals
    m_cols = []
    for r, s in enumerate(states):
        for d in dsts:
            m_cols.append(
                f"CAST(SUM(CASE WHEN src = '{s}' AND dst = '{d}' THEN n "
                f"ELSE 0 END) AS DOUBLE) AS n_{r}_{d.lower()}"
            )
        m_cols.append(
            f"CAST(SUM(CASE WHEN src = '{s}' THEN n ELSE 0 END) AS DOUBLE)"
            f" AS tot_{r}"
        )
    variants = [("base", None)] + [(ch, ch) for ch in _CHANNELS]
    ctes = []
    for vname, removed in variants:
        mat_cols = []
        for r, s in enumerate(states):
            for c in range(4):
                delta = "1.0" if r == c else "0.0"
                if s == removed:
                    expr = delta  # removed row pins x_r = 0 (identity row)
                elif c == 0 or states[c] == removed:
                    # nothing transitions back to START; edges INTO the
                    # removed channel drop (their mass absorbs to NULL)
                    expr = delta
                else:
                    expr = (
                        f"CASE WHEN tot_{r} = 0 THEN {delta} "
                        f"ELSE {delta} - n_{r}_{states[c]} / tot_{r} END"
                    )
                mat_cols.append(f"{expr} AS a{r}{c}")
            if s == removed:
                b_expr = "0.0"
            else:
                b_expr = (
                    f"CASE WHEN tot_{r} = 0 THEN 0.0 "
                    f"ELSE n_{r}_purchase / tot_{r} END"
                )
            mat_cols.append(f"{b_expr} AS b{r}")
        ctes.append(f"mat_{vname} AS (\n  SELECT {', '.join(mat_cols)} FROM m\n)")
        prev = f"mat_{vname}"
        for t in range(4):
            cols = []
            for r in range(4):
                if r == t:
                    cols.extend(f"a{r}{c}" for c in range(4))
                    cols.append(f"b{r}")
                else:
                    cols.extend(
                        f"a{r}{c} - (a{r}{t} / a{t}{t}) * a{t}{c} AS a{r}{c}"
                        for c in range(4)
                    )
                    cols.append(f"b{r} - (a{r}{t} / a{t}{t}) * b{t} AS b{r}")
            cur = f"elim_{vname}_{t}"
            ctes.append(f"{cur} AS (\n  SELECT {', '.join(cols)} FROM {prev}\n)")
            prev = cur
        ctes.append(f"x_{vname} AS (SELECT b0 / a00 AS x FROM {prev})")
    effect_terms = " + ".join(f"e_{ch}" for ch in _CHANNELS)
    snap = "CAST(ROUND(CAST({v} AS DECIMAL(28,8)), 6) AS DOUBLE)"
    selects = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, "
        + snap.format(v="base") + " AS base_conversion, "
        + snap.format(v=f"e_{ch}") + " AS removal_effect, "
        + snap.format(v=f"e_{ch} / t") + " AS attribution_share FROM tot"
        for ch in _CHANNELS
    )
    return f"""
WITH first_p AS (
  SELECT user_id, MIN(ts) AS p_ts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
ev AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM events e LEFT JOIN first_p USING (user_id)
  WHERE e.event_type IN ('click', 'signup', 'view', 'purchase')
    AND (p_ts IS NULL OR e.ts <= p_ts)
),
seq AS (
  SELECT user_id, event_type AS state,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_state
  FROM ev
),
counts AS (
  SELECT src, dst, COUNT(*) AS n FROM (
    SELECT state AS src, COALESCE(next_state, 'NULL') AS dst
    FROM seq WHERE state != 'purchase'
    UNION ALL
    SELECT 'START' AS src, state AS dst FROM seq WHERE rn = 1
  ) GROUP BY src, dst
),
m AS (
  SELECT {', '.join(m_cols)} FROM counts
),
{', '.join(ctes)},
res AS (
  SELECT x_base.x AS base,
         {', '.join(f'GREATEST(x_base.x - x_{ch}.x, 0.0) AS e_{ch}' for ch in _CHANNELS)}
  FROM x_base, {', '.join(f'x_{ch}' for ch in _CHANNELS)}
),
tot AS (
  SELECT *, CASE WHEN ({effect_terms}) = 0.0 THEN 1.0
                 ELSE ({effect_terms}) END AS t
  FROM res
)
SELECT * FROM ({selects}) ORDER BY channel
"""


MARKOV_ATTRIBUTION_SQL = _markov_attribution_sql()


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the quality score per source: within each
    source, the observed English rate by score bin is replaced by its
    best MONOTONE fit (weighted least squares under a non-decreasing
    constraint — the calibrator that turns a ranking score into usable
    probabilities without assuming a parametric shape).

    The pool-adjacent-violators algorithm is inherently sequential along
    the bin axis, so it runs as a grouped-map pandas kernel
    (applyInPandas) — the engine's sanctioned escape hatch, with the same
    structure as the greedy allocator: state scoped to ONE group, groups
    distributed freely, and the per-group frame schema-bounded (≤10 bins).
    Binning/aggregation stay relational; only the ≤10-row monotone fit is
    imperative.

    Oracle: PAVA's solution has the closed minimax form
    ŷ_i = max_{j≤i} min_{k≥i} wavg(j..k) (Barlow et al., standard), which
    IS SQL — two bounded joins over ≤10 ranked bins per source. Cross-
    engine bit-equality holds because BOTH sides keep block state as exact
    integer sums (positives, docs) and divide exactly once per value:
    IEEE division of the same ints is correctly rounded, and min/max are
    monotone under rounding, so the doubles coincide. The kernel's merge
    comparisons are exact integer cross-multiplies (no epsilon).
    """
    import pandas as pd

    d = fan_out(load_table(spark, sf_dir, "documents"))
    score = X.quality_score("text")
    binned = (
        d.select(
            "source",
            F.least(F.floor(score * 10), F.lit(9)).cast("int").alias("bin"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").cast("long").alias("n_english"),
        )
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin").reset_index(drop=True)
        pos = [int(x) for x in pdf["n_english"]]
        wts = [int(x) for x in pdf["n_docs"]]
        # pool-adjacent-violators on exact integer block sums: merge
        # decreasing neighbors until monotone; rate materializes as ONE
        # division per block, so it is bit-identical to the oracle's
        # interval average of the same integers
        blocks = [[p, w, 1] for p, w in zip(pos, wts)]  # pos_sum, n_sum, span
        i = 0
        while i < len(blocks) - 1:
            if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
                p1, w1, s1 = blocks[i]
                p2, w2, s2 = blocks[i + 1]
                blocks[i : i + 2] = [[p1 + p2, w1 + w2, s1 + s2]]
                i = max(i - 1, 0)
            else:
                i += 1
        iso = []
        for p, w, span in blocks:
            iso.extend([p / w] * span)
        pdf["raw_rate"] = [p / w for p, w in zip(pos, wts)]
        pdf["iso_rate"] = iso
        return pdf[["source", "bin", "n_docs", "raw_rate", "iso_rate"]]

    return (
        binned.groupBy("source")
        .applyInPandas(
            pava,
            "source string, bin int, n_docs long, raw_rate double, iso_rate double",
        )
        .select(
            "source",
            "bin",
            "n_docs",
            snap_round(F.col("raw_rate"), 6).alias("raw_rate"),
            snap_round(F.col("iso_rate"), 6).alias("iso_rate"),
        )
        .orderBy("source", "bin")
    )


# minimax form of the isotonic fit (see q_isotonic_calibration docstring):
# ranked bins per source, prefix sums for O(1) interval totals, then
# iso(i) = MAX over j<=i of MIN over k>=i of interval average — all joins
# bounded by <=10 bins per source.
ISOTONIC_CALIBRATION_SQL = f"""
WITH stats AS ({{text_stats}}),
binned AS (
    SELECT d.source,
           CAST(LEAST(FLOOR(s.quality_score * 10), 9) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_english
    FROM stats s JOIN documents d USING (doc_id)
    GROUP BY 1, 2
),
pref AS (
    SELECT source, bin, n_docs, n_english,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY bin) AS r,
           SUM(n_english) OVER (PARTITION BY source ORDER BY bin) AS cpos,
           SUM(n_docs) OVER (PARTITION BY source ORDER BY bin) AS cn
    FROM binned
),
pairs AS (
    SELECT j.source, j.r AS jr, k.r AS kr,
           CAST(k.cpos - (j.cpos - j.n_english) AS DOUBLE)
               / CAST(k.cn - (j.cn - j.n_docs) AS DOUBLE) AS a
    FROM pref j JOIN pref k ON j.source = k.source AND j.r <= k.r
),
inner_min AS (
    SELECT p.source, i.r AS ir, p.jr, MIN(p.a) AS mn
    FROM pairs p
    JOIN pref i ON p.source = i.source AND p.jr <= i.r AND i.r <= p.kr
    GROUP BY 1, 2, 3
),
iso AS (
    SELECT source, ir, MAX(mn) AS iso_rate FROM inner_min GROUP BY 1, 2
)
SELECT b.source, b.bin, b.n_docs,
       CAST(ROUND(CAST(CAST(b.n_english AS DOUBLE) / b.n_docs
                       AS DECIMAL(28,8)), 6) AS DOUBLE) AS raw_rate,
       CAST(ROUND(CAST(i.iso_rate AS DECIMAL(28,8)), 6) AS DOUBLE) AS iso_rate
FROM pref b JOIN iso i ON b.source = i.source AND b.r = i.ir
ORDER BY b.source, b.bin
"""

ISOTONIC_CALIBRATION_SQL = ISOTONIC_CALIBRATION_SQL.format(text_stats=TEXT_STATS_SQL)


def _ols2(x1: Column, x2: Column, y: Column, snap: int | None = None):
    """Closed-form OLS of y ~ b0 + b1*x1 + b2*x2: the kernel of the price
    model family. Returns ``(sums, (b0, b1, b2), sse, sst)``. ``sums`` are
    the ten aggregate columns for the caller's ``agg`` (n, the first
    moments, the Gram cross products and the y moments), each summed in
    exact decimal and cast to double once. The rest are expressions over
    that aggregate's output: the normal equations solved by Cramer's rule
    on the 3x3 Gram matrix with the minors spelled out, so the SQL mirror
    (_ols2_sql) evaluates the SAME double ops in the SAME order. ``snap``
    rounds each coefficient to that many dp before it enters ``sse``."""
    sums = [
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    ]
    n = F.col("n").cast("double")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    # det of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] and its three
    # column-replaced minors
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b = [F.when(det != 0, d / det) for d in (det0, det1, det2)]
    if snap is not None:
        b = [snap_round(c, snap) for c in b]
    b0, b1, b2 = b
    sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    sst = syy - sy * sy / n
    return sums, (b0, b1, b2), sse, sst


def _ols2_sql(rel: str, keys: str = "", snap: int | None = None) -> str:
    """DuckDB mirror of _ols2 over ``rel`` (columns x1, x2, y, plus the
    GROUP BY ``keys``): a SELECT of the keys, the ten sums, b0-b2, sse and
    sst, with the same double ops in the same order. y must be at least
    DECIMAL(19,4): that forces DuckDB's INT128 multiply path for y*y,
    whose 28-digit result overflows the INT64 decimal check (the VALUE is
    identical to Spark's (14,4))."""
    b = [f"CASE WHEN det != 0 THEN det{i} / det END" for i in range(3)]
    if snap is not None:
        b = [f"CAST(ROUND(CAST({c} AS DECIMAL(28,8)), {snap}) AS DOUBLE)" for c in b]
    group = f" GROUP BY {keys}" if keys else ""
    keys = f"{keys}, " if keys else ""
    return f"""
SELECT *, syy - b0 * sy - b1 * s1y - b2 * s2y AS sse,
       syy - sy * sy / CAST(n AS DOUBLE) AS sst
FROM (
    SELECT *, {b[0]} AS b0,
           {b[1]} AS b1,
           {b[2]} AS b2
    FROM (
        SELECT *,
               CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
                 - s1 * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s12 - s11 * s2) AS det,
               sy * (s11 * s22 - s12 * s12)
                 - s1 * (s1y * s22 - s12 * s2y)
                 + s2 * (s1y * s12 - s11 * s2y) AS det0,
               CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
                 - sy * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s2y - s1y * s2) AS det1,
               CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
                 - s1 * (s1 * s2y - s1y * s2)
                 + sy * (s1 * s12 - s11 * s2) AS det2
        FROM (
            SELECT {keys}COUNT(*) AS n,
                   CAST(SUM(x1) AS DOUBLE) AS s1,
                   CAST(SUM(x2) AS DOUBLE) AS s2,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
                   CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
                   CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
                   CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
                   CAST(SUM(x2 * y) AS DOUBLE) AS s2y,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM {rel}{group}
        )
    )
)"""


def _price_xy() -> tuple[Column, Column, Column]:
    """The price model's regressors and target over lineitem: x1 = price,
    x2 = discount scaled x100 so the Gram matrix is well-conditioned in
    double (raw 1e-2-scale columns next to 1e4-scale price sums lose ~4
    digits in the determinant cancellation), y = net revenue x1*(1-d)."""
    x1 = F.col("l_extendedprice").cast("decimal(12,2)")
    x2 = (F.col("l_discount").cast("decimal(4,2)") * 100).cast("decimal(8,2)")
    y = (x1 * (1 - F.col("l_discount").cast("decimal(4,2)"))).cast("decimal(14,4)")
    return x1, x2, y


#: _price_xy, DuckDB form
_PRICE_XY_SQL = """CAST(l_extendedprice AS DECIMAL(12,2)) AS x1,
           CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS DECIMAL(8,2)) AS x2,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,4)) AS y"""


def q_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression (two features + intercept):
    fit net revenue (l_extendedprice*(1-l_discount)) ~ b0 +
    b1*l_extendedprice + b2*(l_discount*100) by the normal equations,
    solved with Cramer's rule on the 3x3 Gram matrix —
    the distributed form of OLS for LOW-dimensional models: ONE map-side-
    combined aggregate produces the 9 moment sums, and everything after
    is driver-free scalar algebra inside the plan. (The d>3 general form
    is pca_top_component's pattern: collect the d x d Gram and solve in
    the driver; here even that collect disappears.)

    Exactness: all moment sums are exact decimals (inputs are
    DECIMAL(12,2)/(4,2); triple-products stay inside the 38-digit
    envelope); the Cramer determinants evaluate in double with IDENTICAL
    association in both engines, and each reported coefficient snaps
    once. R^2 assembles algebraically from the same sums — no residual
    second pass: R^2 = 1 - (Syy - b0*Sy - b1*S1y - b2*S2y)/(Syy - Sy^2/n).

    Scale: a single aggregate over the fact table, ~1 row out; no
    shuffle wider than the partial-agg combine. This is the regression
    the reference's forecast family (src/time_series.py) approximates
    per-series; here it's the multivariate batch form.
    """
    # the target carries REAL structure (y = x1 - x1*x2/100 + no noise on
    # the linear terms' scale): the fit must recover b1 ~ 1-E[d], b2 ~
    # -E[price]/100, R^2 >> 0.99 — pinned in tests; the synthetic tables'
    # raw columns are mutually independent, so a raw-column target would
    # only ever demonstrate R^2 = 0
    sums, (b0, b1, b2), sse, sst = _ols2(*_price_xy())
    return load_table(spark, sf_dir, "lineitem").agg(*sums).select(
        F.col("n").alias("n_rows"),
        snap_round(b0, 4).alias("intercept"),
        snap_round(b1, 4).alias("beta_price"),
        snap_round(b2, 4).alias("beta_discount_pct"),
        snap_round(F.when(sst > 0, 1.0 - sse / sst), 6).alias("r2"),
    )


OLS_PRICE_MODEL_SQL = f"""
SELECT n AS n_rows,
       CAST(ROUND(CAST(b0 AS DECIMAL(28,8)), 4) AS DOUBLE) AS intercept,
       CAST(ROUND(CAST(b1 AS DECIMAL(28,8)), 4) AS DOUBLE) AS beta_price,
       CAST(ROUND(CAST(b2 AS DECIMAL(28,8)), 4) AS DOUBLE) AS beta_discount_pct,
       CAST(ROUND(CAST(CASE WHEN sst > 0 THEN 1.0 - sse / sst END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS r2
FROM ({_ols2_sql(f"(SELECT {_PRICE_XY_SQL} FROM lineitem)")})
"""


# --- pairwise feature correlation matrix -------------------------------------

_CORR_FEATS: list[tuple[str, str, str]] = [
    # (short name, source column, exact decimal cast both engines share)
    ("disc", "l_discount", "decimal(4,2)"),
    ("price", "l_extendedprice", "decimal(12,2)"),
    ("qty", "l_quantity", "decimal(12,2)"),
    ("tax", "l_tax", "decimal(4,2)"),
]


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem numeric
    features, from ONE map-side-combined aggregate: the d(d+3)/2+1 moment
    sums (count, d sums, d(d+1)/2 cross sums) are the sufficient
    statistic, and every pairwise r assembles from them driver-free:

        r = (n*s_ab - s_a*s_b) / sqrt((n*s_aa - s_a^2)(n*s_bb - s_b^2))

    This is the feature-screening pass an ML pipeline runs before model
    fitting (the ols_price_model / pca_top_component family): ONE scan,
    zero keyed shuffles — the single-row moment aggregate is the only
    exchange, and the d^2 fan-out is a bounded literal-array explode of
    that one row, never a self-join of the fact table.

    Exactness: moment sums are exact decimals (the ols_price_model
    discipline); each r evaluates in double with IDENTICAL association in
    both engines and snaps once at 6 dp. Degenerate (zero-variance)
    features yield NULL r via the same > 0 guard in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    feats = {s: F.col(c).cast(t) for s, c, t in _CORR_FEATS}
    names = [s for s, _, _ in _CORR_FEATS]
    aggs = [F.count(F.lit(1)).alias("n")]
    for a in names:
        aggs.append(F.sum(feats[a]).cast("double").alias(f"s_{a}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(feats[a] * feats[b]).cast("double").alias(f"s_{a}_{b}")
            )
    sums = li.agg(*aggs)
    n = F.col("n").cast("double")
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = n * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            da = n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            db = n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            pairs.append(
                F.struct(
                    F.lit(a).alias("feat_a"),
                    F.lit(b).alias("feat_b"),
                    snap_round(
                        F.when((da > 0) & (db > 0), num / F.sqrt(da * db)), 6
                    ).alias("corr"),
                )
            )
    return (
        sums.select(F.col("n").alias("n_rows"), F.explode(F.array(*pairs)).alias("p"))
        .select("n_rows", "p.feat_a", "p.feat_b", "p.corr")
        .orderBy("feat_a", "feat_b")
    )


def _corr_sql() -> str:
    names = [s for s, _, _ in _CORR_FEATS]
    casts = ",\n               ".join(
        f"CAST({c} AS {t.upper().replace('DECIMAL', 'DECIMAL')}) AS {s}"
        for s, c, t in _CORR_FEATS
    )
    sums = ["COUNT(*) AS n"]
    sums += [f"CAST(SUM({a}) AS DOUBLE) AS s_{a}" for a in names]
    for i, a in enumerate(names):
        for b in names[i:]:
            sums.append(f"CAST(SUM({a} * {b}) AS DOUBLE) AS s_{a}_{b}")
    branches = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = f"CAST(n AS DOUBLE) * s_{a}_{b} - s_{a} * s_{b}"
            da = f"CAST(n AS DOUBLE) * s_{a}_{a} - s_{a} * s_{a}"
            db = f"CAST(n AS DOUBLE) * s_{b}_{b} - s_{b} * s_{b}"
            branches.append(
                f"SELECT n AS n_rows, '{a}' AS feat_a, '{b}' AS feat_b,\n"
                f"       CAST(ROUND(CAST(CASE WHEN ({da}) > 0 AND ({db}) > 0\n"
                f"            THEN ({num}) / SQRT(({da}) * ({db})) END\n"
                f"            AS DECIMAL(28,8)), 6) AS DOUBLE) AS corr\n"
                f"FROM sums"
            )
    union = "\nUNION ALL\n".join(branches)
    return (
        "WITH src AS (\n"
        f"    SELECT {casts}\n"
        "    FROM lineitem\n"
        "),\n"
        "sums AS (\n"
        "    SELECT " + ",\n           ".join(sums) + "\n"
        "    FROM src\n"
        ")\n" + union
    )


CORRELATION_MATRIX_SQL = _corr_sql()


def q_ols_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED closed-form OLS — one regression PER BRAND from a single
    map-side-combined aggregate: the many-models shape (per-segment price
    models, per-region elasticities, per-series trend fits) that at 100 TB
    must never become a per-group loop. Same normal-equations/Cramer
    algebra as q_ols_price_model, but the 10 moment sums carry a GROUP BY
    key: |brands| model fits cost exactly one shuffle of |brands| moment
    rows — a million models is a million-row aggregate, not a million
    jobs. (The applyInPandas per-group fit — forecast_many's path — is for
    models with no closed form; when sufficient statistics exist,
    aggregate them.)

    The brand dim rides a broadcast join onto lineitem. Target and
    exactness identical to q_ols_price_model (planted structure, exact
    decimal sums, identical double association, one snap per coefficient).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sums, (b0, b1, b2), sse, sst = _ols2(*_price_xy())
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(*sums)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("n").alias("n_rows"),
            snap_round(b0, 4).alias("intercept"),
            snap_round(b1, 4).alias("beta_price"),
            snap_round(b2, 4).alias("beta_discount_pct"),
            snap_round(F.when(sst > 0, 1.0 - sse / sst), 6).alias("r2"),
        )
        .orderBy("brand")
    )


OLS_BY_BRAND_SQL = f"""
SELECT p_brand AS brand,
       n AS n_rows,
       CAST(ROUND(CAST(b0 AS DECIMAL(28,8)), 4) AS DOUBLE) AS intercept,
       CAST(ROUND(CAST(b1 AS DECIMAL(28,8)), 4) AS DOUBLE) AS beta_price,
       CAST(ROUND(CAST(b2 AS DECIMAL(28,8)), 4) AS DOUBLE) AS beta_discount_pct,
       CAST(ROUND(CAST(CASE WHEN sst > 0 THEN 1.0 - sse / sst END
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS r2
FROM ({_ols2_sql(
    f"(SELECT p.p_brand, {_PRICE_XY_SQL} "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)",
    keys="p_brand",
)})
ORDER BY brand
"""


def q_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16 dims (Achlioptas ±1
    signs), audited by the norm-preservation ratio it promises: per label,
    the distribution of ‖proj(x)‖/‖x‖ should concentrate near 1. This is
    the embedding-compression stage an ANN index runs before bucketing —
    4× less vector memory for a bounded distance distortion — and the
    audit IS the query output (the number a pipeline gates on before
    swapping the compressed index in).

    Determinism: the sign matrix derives from md5(i:j) (the similarity_ann
    plane discipline — no shipped state, both engines rebuild it
    bit-identically), and every vector reduction is a SEQUENTIAL fold
    (F.aggregate / list_reduce) so float summation order is pinned. The
    matrix is built as a 16-row relation collected into ONE array row and
    broadcast — never a 1,024-node literal forest (the similarity_ann
    codegen lesson, BASELINE.md). √16 = 4 exactly, so the scale division
    is exact. One snap per ratio at 6 dp; per-label stats aggregate the
    snapped decimals exactly, with one final double division for the mean.

    Scale: projection is scan-stage per-row work against a broadcast
    16×64 matrix; the audit is one map-side-combined label aggregate.
    100 TB of vectors stream through without any shuffle but the ≤|label|
    rollup.
    """
    from candyspark.operators.similarity import _fold_sum

    rows = spark.range(16).select(
        F.col("id").cast("int").alias("i"),
        F.expr(
            "transform(sequence(0, 63), j -> CASE WHEN substring("
            "md5(concat(cast(id AS STRING), ':', cast(j AS STRING))), 1, 1)"
            " IN ('0','1','2','3','4','5','6','7') THEN 1.0D ELSE -1.0D END)"
        ).alias("row"),
    )
    mat = rows.orderBy("i").agg(
        F.collect_list("row").alias("mat")  # collect_list after orderBy: row order pinned
    )
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ys = F.transform(
        F.col("mat"),
        lambda row: _fold_sum(F.zip_with(v, row, lambda x, s: x * s)) / 4.0,
    )
    nx = F.sqrt(_fold_sum(F.transform(v, lambda x: x * x)))
    ny = F.sqrt(_fold_sum(F.transform(ys, lambda y: y * y)))
    ratios = e.crossJoin(F.broadcast(mat)).select(
        "label",
        F.round((ny / nx).cast("decimal(28,8)"), 6)
        .cast("decimal(18,6)")
        .alias("ratio"),
    )
    return (
        ratios.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            snap_round(
                F.sum("ratio").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_ratio"),
            F.min("ratio").cast("double").alias("min_ratio"),
            F.max("ratio").cast("double").alias("max_ratio"),
        )
        .orderBy("label")
    )


EMBEDDING_PROJECTION_SQL = """
WITH m AS (
    SELECT list_transform(range(0, 16), i ->
             list_transform(range(0, 64), j ->
               CASE WHEN substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3','4','5','6','7')
                    THEN 1.0 ELSE -1.0 END)) AS mat
),
scored AS (
    SELECT label,
           CAST(ROUND(CAST(
               sqrt(list_reduce(list_transform(
                   list_transform(mat, row ->
                       list_reduce(list_transform(range(1, 65),
                           k -> CAST(embedding[k] AS DOUBLE) * row[k]),
                           (a, b) -> a + b) / 4.0),
                   y -> y * y), (a, b) -> a + b))
               / sqrt(list_reduce(list_transform(range(1, 65),
                   k -> CAST(embedding[k] AS DOUBLE) * CAST(embedding[k] AS DOUBLE)),
                   (a, b) -> a + b))
               AS DECIMAL(28,8)), 6) AS DECIMAL(18,6)) AS ratio
    FROM embeddings CROSS JOIN m
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(ROUND(CAST(CAST(SUM(ratio) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_ratio,
       CAST(MIN(ratio) AS DOUBLE) AS min_ratio,
       CAST(MAX(ratio) AS DOUBLE) AS max_ratio
FROM scored
GROUP BY label
ORDER BY label
"""


def q_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine LOGISTIC REGRESSION training — P(returned | discount) by
    four UNROLLED Newton-Raphson steps, each a relational aggregate. The
    iterative-optimization member of the ML family: naive_bayes counts,
    ols_* solve normal equations, isotonic pools — this one runs an
    honest-to-goodness IRLS loop, and because the feature has BOUNDED
    support (discount percent ∈ 0..10) the corpus collapses ONCE to an
    11-cell sufficient-statistic relation and every Newton step is algebra
    over those 11 cells. A billion rows or a trillion: same 11 cells after
    one map-side-combined pass — this is why you aggregate sufficient
    statistics before iterating, not iterate over data.

    Exactness: cells are exact longs; each step's per-cell gradient /
    Hessian terms run exp on identical doubles (β is snapped to 10 dp
    between steps so both engines iterate from identical coefficients),
    snap to DECIMAL(28,12), and sum exactly; the 2×2 Newton solve is one
    double association. Final log-loss follows the same per-cell-snap
    discipline. Newton on a 1-feature logistic converges quadratically —
    4 steps lands within the 10-dp snap of the optimum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            (F.col("l_discount").cast("decimal(4,2)") * 100)
            .cast("int")
            .alias("x"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .localCheckpoint()
    )

    def snap12(c):
        return F.round(c.cast("decimal(28,12)"), 12).cast("decimal(24,12)")

    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(4):
        xd = F.col("x").cast("double")
        nd = F.col("n").cast("double")
        npos = F.col("n_pos").cast("double")
        p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * xd)))
        w = nd * p * (1.0 - p)
        sums = (
            cells.crossJoin(F.broadcast(beta))
            .select(
                "b0",
                "b1",
                snap12(npos - nd * p).alias("g0c"),
                snap12(xd * (npos - nd * p)).alias("g1c"),
                snap12(w).alias("h00c"),
                snap12(xd * w).alias("h01c"),
                snap12(xd * xd * w).alias("h11c"),
            )
            .groupBy("b0", "b1")
            .agg(
                F.sum("g0c").cast("double").alias("g0"),
                F.sum("g1c").cast("double").alias("g1"),
                F.sum("h00c").cast("double").alias("h00"),
                F.sum("h01c").cast("double").alias("h01"),
                F.sum("h11c").cast("double").alias("h11"),
            )
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        b0n = F.col("b0") + (
            F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")
        ) / det
        b1n = F.col("b1") + (
            F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")
        ) / det
        beta = sums.select(
            F.round(b0n.cast("decimal(28,12)"), 10).cast("double").alias("b0"),
            F.round(b1n.cast("decimal(28,12)"), 10).cast("double").alias("b1"),
        )

    xd = F.col("x").cast("double")
    p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * xd)))
    ll_cell = snap12(
        -(
            F.col("n_pos").cast("double") * F.log(p)
            + (F.col("n") - F.col("n_pos")).cast("double") * F.log(1.0 - p)
        )
    )
    return (
        cells.crossJoin(F.broadcast(beta))
        .select("b0", "b1", ll_cell.alias("llc"), "n")
        .groupBy("b0", "b1")
        .agg(
            F.sum("llc").cast("double").alias("ll_sum"),
            F.sum("n").cast("long").alias("n_rows"),
        )
        .select(
            # widened intermediate (decimal(28,12) → 8 dp): snap_round(x, 8)
            # itself has ZERO margin — the double→decimal cast IS the final
            # round, and the engines' conversion modes can differ at ties
            # (the cooks_distance lesson)
            F.round(F.col("b0").cast("decimal(28,12)"), 8)
            .cast("double")
            .alias("beta0"),
            F.round(F.col("b1").cast("decimal(28,12)"), 8)
            .cast("double")
            .alias("beta1"),
            F.round(
                (F.col("ll_sum") / F.col("n_rows").cast("double")).cast(
                    "decimal(28,12)"
                ),
                8,
            )
            .cast("double")
            .alias("mean_log_loss"),
            "n_rows",
        )
    )


def _logistic_sql() -> str:
    step = """
beta{k} AS (
    SELECT CAST(ROUND(CAST(b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01)
                AS DECIMAL(28,12)), 10) AS DOUBLE) AS b0,
           CAST(ROUND(CAST(b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01)
                AS DECIMAL(28,12)), 10) AS DOUBLE) AS b1
    FROM (
        SELECT b0, b1,
               CAST(SUM(g0c) AS DOUBLE) AS g0, CAST(SUM(g1c) AS DOUBLE) AS g1,
               CAST(SUM(h00c) AS DOUBLE) AS h00, CAST(SUM(h01c) AS DOUBLE) AS h01,
               CAST(SUM(h11c) AS DOUBLE) AS h11
        FROM (
            SELECT b0, b1,
                   {snap}(CAST(n_pos AS DOUBLE) - CAST(n AS DOUBLE) * p) AS g0c,
                   {snap}(CAST(x AS DOUBLE) * (CAST(n_pos AS DOUBLE) - CAST(n AS DOUBLE) * p)) AS g1c,
                   {snap}(CAST(n AS DOUBLE) * p * (1.0 - p)) AS h00c,
                   {snap}(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) * p * (1.0 - p)) AS h01c,
                   {snap}(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * CAST(n AS DOUBLE) * p * (1.0 - p)) AS h11c
            FROM (
                SELECT cells.*, b0, b1,
                       1.0 / (1.0 + EXP(-(b0 + b1 * CAST(x AS DOUBLE)))) AS p
                FROM cells CROSS JOIN beta{km1}
            )
        )
        GROUP BY b0, b1
    )
)"""
    snap = (
        "CAST(ROUND(CAST({} AS DECIMAL(28,12)), 12) AS DECIMAL(24,12))"
    )

    def s(expr):
        return snap.format(expr)

    # build the per-cell snap calls by simple textual substitution
    steps = []
    for k in range(1, 5):
        body = step.format(k=k, km1=k - 1, snap="__SNAP__")
        # expand __SNAP__(expr) -> CAST(ROUND(CAST(expr AS ...)...)
        out = []
        i = 0
        while i < len(body):
            j = body.find("__SNAP__(", i)
            if j < 0:
                out.append(body[i:])
                break
            out.append(body[i:j])
            # find matching close paren
            depth = 0
            m = j + len("__SNAP__(") - 1
            for m2 in range(m, len(body)):
                if body[m2] == "(":
                    depth += 1
                elif body[m2] == ")":
                    depth -= 1
                    if depth == 0:
                        break
            inner = body[m + 1 : m2]
            out.append(s(inner))
            i = m2 + 1
        steps.append("".join(out))
    return (
        """
WITH cells AS (
    SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INTEGER) AS x,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM lineitem GROUP BY 1
),
beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1),"""
        + ",".join(steps)
        + """
SELECT CAST(ROUND(CAST(b0 AS DECIMAL(28,12)), 8) AS DOUBLE) AS beta0,
       CAST(ROUND(CAST(b1 AS DECIMAL(28,12)), 8) AS DOUBLE) AS beta1,
       CAST(ROUND(CAST(CAST(SUM(llc) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
            AS DECIMAL(28,12)), 8) AS DOUBLE) AS mean_log_loss,
       CAST(SUM(n) AS BIGINT) AS n_rows
FROM (
    SELECT b0, b1, n,
           CAST(ROUND(CAST(
               -(CAST(n_pos AS DOUBLE) * LN(p)
                 + CAST(n - n_pos AS DOUBLE) * LN(1.0 - p))
               AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS llc
    FROM (
        SELECT cells.*, b0, b1,
               1.0 / (1.0 + EXP(-(b0 + b1 * CAST(x AS DOUBLE)))) AS p
        FROM cells CROSS JOIN beta4
    )
)
GROUP BY b0, b1
"""
    )


LOGISTIC_NEWTON_SQL = _logistic_sql()


def q_gradient_boost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient boosting with decision stumps, trained IN-ENGINE — two
    boosting rounds predicting P(returned) from quantity, squared loss.
    The ensemble member of the training family (counting: naive_bayes;
    closed form: ols_*; IRLS: logistic_newton/huber; order-constrained:
    isotonic): each round fits the BEST single split to the current
    residuals and adds the leaf means to the model.

    Why this is one aggregate + tiny algebra, not a tree library: the
    feature has bounded support, so residual sums per value are ≤50 exact
    rows, and EVERY candidate split's gain — sumL²/nL + sumR²/nR — comes
    from a running prefix over that relation (the forecast_backtest trick:
    all 49 splits evaluated in one window pass, per round). Model scalars
    (base rate, leaf gammas) snap to DECIMAL(20,10) and multiply back as
    exact decimals, so residual sums stay exact through both rounds; split
    gains snap at 8 dp from a wide intermediate with (gain DESC, split)
    total order. Output: the fitted ensemble + its train MSE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
        .localCheckpoint()
    )

    def snap10(c):
        return F.round(c.cast("decimal(28,12)"), 10).cast("decimal(20,10)")

    base = cells.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("sy").cast("long").alias("sy_tot"),
    ).select(
        "n_tot",
        "sy_tot",
        snap10(
            F.col("sy_tot").cast("double") / F.col("n_tot").cast("double")
        ).alias("f0"),
    )

    # round 1: residual sums r(v) = sy - n*f0 are EXACT decimals
    r1 = cells.crossJoin(F.broadcast(base)).select(
        "v",
        "n",
        "sy",
        "n_tot",
        "f0",
        (
            F.col("sy").cast("decimal(28,10)")
            - F.col("n").cast("decimal(18,0)") * F.col("f0")
        ).alias("r"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.partitionBy()
    cand1 = r1.select(
        "v",
        "n_tot",
        "f0",
        F.sum("n").over(w_cum).cast("long").alias("nl"),
        F.sum("r").over(w_cum).alias("cl"),
        F.sum("r").over(whole).alias("r_tot"),
    ).filter(F.col("nl") < F.col("n_tot"))
    gain1 = (
        F.col("cl").cast("double") * F.col("cl").cast("double")
        / F.col("nl").cast("double")
        + (F.col("r_tot") - F.col("cl")).cast("double")
        * (F.col("r_tot") - F.col("cl")).cast("double")
        / (F.col("n_tot") - F.col("nl")).cast("double")
    )
    w_rank1 = Window.orderBy(
        F.desc(F.round(gain1.cast("decimal(28,12)"), 8)), "v"
    )
    best1 = (
        cand1.withColumn("rk", F.row_number().over(w_rank1))
        .filter(F.col("rk") == 1)
        .select(
            F.col("v").alias("split1"),
            "n_tot",
            "f0",
            snap10(F.col("cl").cast("double") / F.col("nl").cast("double")).alias(
                "gl1"
            ),
            snap10(
                (F.col("r_tot") - F.col("cl")).cast("double")
                / (F.col("n_tot") - F.col("nl")).cast("double")
            ).alias("gr1"),
        )
    )

    # round 2: F1(v) = f0 + gamma1(v); residuals again exact decimals
    f1 = F.col("f0") + F.when(
        F.col("v") <= F.col("split1"), F.col("gl1")
    ).otherwise(F.col("gr1"))
    r2 = cells.crossJoin(F.broadcast(best1)).select(
        "v",
        "n",
        "sy",
        "n_tot",
        "f0",
        "split1",
        "gl1",
        "gr1",
        (
            F.col("sy").cast("decimal(28,10)")
            - F.col("n").cast("decimal(18,0)") * f1
        ).alias("r"),
    )
    cand2 = r2.select(
        "v",
        "n_tot",
        "f0",
        "split1",
        "gl1",
        "gr1",
        F.sum("n").over(w_cum).cast("long").alias("nl"),
        F.sum("r").over(w_cum).alias("cl"),
        F.sum("r").over(whole).alias("r_tot"),
    ).filter(F.col("nl") < F.col("n_tot"))
    w_rank2 = Window.orderBy(
        F.desc(F.round(gain1.cast("decimal(28,12)"), 8)), "v"
    )
    best2 = (
        cand2.withColumn("rk", F.row_number().over(w_rank2))
        .filter(F.col("rk") == 1)
        .select(
            "n_tot",
            "f0",
            "split1",
            "gl1",
            "gr1",
            F.col("v").alias("split2"),
            snap10(F.col("cl").cast("double") / F.col("nl").cast("double")).alias(
                "gl2"
            ),
            snap10(
                (F.col("r_tot") - F.col("cl")).cast("double")
                / (F.col("n_tot") - F.col("nl")).cast("double")
            ).alias("gr2"),
        )
    )

    # final train MSE of F2(v)
    f2 = (
        F.col("f0")
        + F.when(F.col("v") <= F.col("split1"), F.col("gl1")).otherwise(
            F.col("gr1")
        )
        + F.when(F.col("v") <= F.col("split2"), F.col("gl2")).otherwise(
            F.col("gr2")
        )
    )
    sse_cell = F.round(
        (
            F.col("sy").cast("double")
            * (1.0 - f2.cast("double"))
            * (1.0 - f2.cast("double"))
            + (F.col("n") - F.col("sy")).cast("double")
            * f2.cast("double")
            * f2.cast("double")
        ).cast("decimal(28,10)"),
        8,
    ).cast("decimal(24,8)")
    return (
        cells.crossJoin(F.broadcast(best2))
        .select(
            "n_tot",
            "f0",
            "split1",
            "gl1",
            "gr1",
            "split2",
            "gl2",
            "gr2",
            sse_cell.alias("ssec"),
        )
        .groupBy("n_tot", "f0", "split1", "gl1", "gr1", "split2", "gl2", "gr2")
        .agg(F.sum("ssec").alias("sse"))
        .select(
            F.col("n_tot").alias("n_rows"),
            F.col("f0").cast("double").alias("base_rate"),
            "split1",
            F.col("gl1").cast("double").alias("gamma_left_1"),
            F.col("gr1").cast("double").alias("gamma_right_1"),
            "split2",
            F.col("gl2").cast("double").alias("gamma_left_2"),
            F.col("gr2").cast("double").alias("gamma_right_2"),
            F.round(
                (F.col("sse").cast("double") / F.col("n_tot").cast("double")).cast(
                    "decimal(28,12)"
                ),
                8,
            )
            .cast("double")
            .alias("train_mse"),
        )
    )


GRADIENT_BOOST_STUMPS_SQL = """
WITH cells AS (
    SELECT CAST(l_quantity AS BIGINT) AS v,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS sy
    FROM lineitem GROUP BY 1
),
base AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
           CAST(ROUND(CAST(CAST(SUM(sy) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS f0
    FROM cells
),
r1 AS (
    SELECT v, n, n_tot, f0,
           CAST(sy AS DECIMAL(28,10)) - CAST(n AS DECIMAL(18,0)) * f0 AS r
    FROM cells CROSS JOIN base
),
cand1 AS (
    SELECT v, n_tot, f0,
           CAST(SUM(n) OVER wc AS BIGINT) AS nl,
           SUM(r) OVER wc AS cl,
           SUM(r) OVER () AS r_tot
    FROM r1
    WINDOW wc AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    QUALIFY nl < n_tot
),
best1 AS (
    SELECT v AS split1, n_tot, f0,
           CAST(ROUND(CAST(CAST(cl AS DOUBLE) / CAST(nl AS DOUBLE)
                AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS gl1,
           CAST(ROUND(CAST(CAST(r_tot - cl AS DOUBLE) / CAST(n_tot - nl AS DOUBLE)
                AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS gr1
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY
            ROUND(CAST(CAST(cl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(nl AS DOUBLE)
                  + CAST(r_tot - cl AS DOUBLE) * CAST(r_tot - cl AS DOUBLE)
                    / CAST(n_tot - nl AS DOUBLE) AS DECIMAL(28,12)), 8) DESC,
            v) AS rk
        FROM cand1
    ) WHERE rk = 1
),
r2 AS (
    SELECT v, n, n_tot, f0, split1, gl1, gr1,
           CAST(sy AS DECIMAL(28,10)) - CAST(n AS DECIMAL(18,0))
             * (f0 + CASE WHEN v <= split1 THEN gl1 ELSE gr1 END) AS r
    FROM cells CROSS JOIN best1
),
cand2 AS (
    SELECT v, n_tot, f0, split1, gl1, gr1,
           CAST(SUM(n) OVER wc AS BIGINT) AS nl,
           SUM(r) OVER wc AS cl,
           SUM(r) OVER () AS r_tot
    FROM r2
    WINDOW wc AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    QUALIFY nl < n_tot
),
best2 AS (
    SELECT n_tot, f0, split1, gl1, gr1, v AS split2,
           CAST(ROUND(CAST(CAST(cl AS DOUBLE) / CAST(nl AS DOUBLE)
                AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS gl2,
           CAST(ROUND(CAST(CAST(r_tot - cl AS DOUBLE) / CAST(n_tot - nl AS DOUBLE)
                AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS gr2
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY
            ROUND(CAST(CAST(cl AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(nl AS DOUBLE)
                  + CAST(r_tot - cl AS DOUBLE) * CAST(r_tot - cl AS DOUBLE)
                    / CAST(n_tot - nl AS DOUBLE) AS DECIMAL(28,12)), 8) DESC,
            v) AS rk
        FROM cand2
    ) WHERE rk = 1
),
final AS (
    SELECT n_tot, f0, split1, gl1, gr1, split2, gl2, gr2,
           SUM(CAST(ROUND(CAST(
               CAST(sy AS DOUBLE)
               * (1.0 - CAST(f0 + CASE WHEN v <= split1 THEN gl1 ELSE gr1 END
                             + CASE WHEN v <= split2 THEN gl2 ELSE gr2 END AS DOUBLE))
               * (1.0 - CAST(f0 + CASE WHEN v <= split1 THEN gl1 ELSE gr1 END
                             + CASE WHEN v <= split2 THEN gl2 ELSE gr2 END AS DOUBLE))
               + CAST(n - sy AS DOUBLE)
               * CAST(f0 + CASE WHEN v <= split1 THEN gl1 ELSE gr1 END
                      + CASE WHEN v <= split2 THEN gl2 ELSE gr2 END AS DOUBLE)
               * CAST(f0 + CASE WHEN v <= split1 THEN gl1 ELSE gr1 END
                      + CASE WHEN v <= split2 THEN gl2 ELSE gr2 END AS DOUBLE)
               AS DECIMAL(28,10)), 8) AS DECIMAL(24,8))) AS sse
    FROM cells CROSS JOIN best2
    GROUP BY n_tot, f0, split1, gl1, gr1, split2, gl2, gr2
)
SELECT n_tot AS n_rows,
       CAST(f0 AS DOUBLE) AS base_rate,
       split1,
       CAST(gl1 AS DOUBLE) AS gamma_left_1,
       CAST(gr1 AS DOUBLE) AS gamma_right_1,
       split2,
       CAST(gl2 AS DOUBLE) AS gamma_left_2,
       CAST(gr2 AS DOUBLE) AS gamma_right_2,
       CAST(ROUND(CAST(CAST(sse AS DOUBLE) / CAST(n_tot AS DOUBLE)
            AS DECIMAL(28,12)), 8) AS DOUBLE) AS train_mse
FROM final
"""


def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-brand return rates — the
    small-sample correction that ranks entities HONESTLY: a brand with
    3/5 returns must not outrank one at 400/1000, so every rate shrinks
    toward the cross-brand prior by its own sample size. Beta prior by
    method of moments from the observed rate distribution (m, v →
    α+β = m(1−m)/v − 1), posterior mean (k+α)/(n+α+β). The Bayesian
    sibling of target_encode_loo's frequentist leakage guard.

    Exactness: per-brand rates are exact ratios snapped to decimal so the
    cross-brand moment sums are order-free; α and β snap once at 8 dp
    (wide intermediate) and re-enter per-brand algebra as identical
    doubles; one 6-dp snap per output rate. Scale: one map-side-combined
    brand rollup; the prior fits on the ≤|brands|-row relation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p_ = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    brands = (
        li.join(F.broadcast(p_), li.l_partkey == p_.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
        .localCheckpoint()
    )
    rates = brands.select(
        "p_brand",
        "n",
        "k",
        F.round(
            (F.col("k").cast("double") / F.col("n").cast("double")).cast(
                "decimal(28,12)"
            ),
            10,
        )
        .cast("decimal(20,10)")
        .alias("p"),
    )
    mom = rates.agg(
        F.count(F.lit(1)).cast("long").alias("kb"),
        F.sum("p").alias("sp"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
    )
    kb = F.col("kb").cast("double")
    m = F.col("sp").cast("double") / kb
    v = F.col("spp").cast("double") / kb - m * m
    ab_tot = m * (1.0 - m) / v - 1.0
    prior = mom.select(
        F.round((m * ab_tot).cast("decimal(28,10)"), 8)
        .cast("double")
        .alias("alpha"),
        F.round(((1.0 - m) * ab_tot).cast("decimal(28,10)"), 8)
        .cast("double")
        .alias("beta"),
    )
    eb = (F.col("k").cast("double") + F.col("alpha")) / (
        F.col("n").cast("double") + F.col("alpha") + F.col("beta")
    )
    return (
        rates.crossJoin(F.broadcast(prior))
        .select(
            F.col("p_brand").alias("brand"),
            F.col("n").alias("n_lines"),
            snap_round(F.col("p").cast("double"), 6).alias("raw_rate"),
            snap_round(eb, 6).alias("eb_rate"),
        )
        .orderBy("brand")
    )


EB_SHRINKAGE_SQL = """
WITH brands AS (
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p_brand
),
rates AS (
    SELECT p_brand, n, k,
           CAST(ROUND(CAST(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                AS DECIMAL(28,12)), 10) AS DECIMAL(20,10)) AS p
    FROM brands
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS kb, SUM(p) AS sp, SUM(p * p) AS spp
    FROM rates
),
prior AS (
    SELECT CAST(ROUND(CAST(
               (CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
               * ((CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
                  * (1.0 - CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
                  / (CAST(spp AS DOUBLE) / CAST(kb AS DOUBLE)
                     - (CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
                       * (CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))) - 1.0)
               AS DECIMAL(28,10)), 8) AS DOUBLE) AS alpha,
           CAST(ROUND(CAST(
               (1.0 - CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
               * ((CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
                  * (1.0 - CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
                  / (CAST(spp AS DOUBLE) / CAST(kb AS DOUBLE)
                     - (CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))
                       * (CAST(sp AS DOUBLE) / CAST(kb AS DOUBLE))) - 1.0)
               AS DECIMAL(28,10)), 8) AS DOUBLE) AS beta
    FROM mom
)
SELECT p_brand AS brand,
       n AS n_lines,
       CAST(ROUND(CAST(CAST(p AS DOUBLE) AS DECIMAL(28,8)), 6) AS DOUBLE) AS raw_rate,
       CAST(ROUND(CAST(
           (CAST(k AS DOUBLE) + alpha)
           / (CAST(n AS DOUBLE) + alpha + beta)
           AS DECIMAL(28,8)), 6) AS DOUBLE) AS eb_rate
FROM rates CROSS JOIN prior
ORDER BY brand
"""


def q_logistic_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free holdout evaluation of the logistic model — the ML-ops
    property q_logistic_newton's in-sample numbers can't give: train the
    4-step Newton fit on an 80% CONTENT-HASH split (md5 of the line's
    (orderkey, linenumber) identity — the dataset_split discipline, never
    rand()) and score the held-out 20% that the optimizer NEVER SAW.
    Reported: held-out mean log-loss, Brier score, and accuracy at the 0.5
    cut — the honest generalization row next to naive_bayes_langid's
    held-out confusion.

    Same bounded-support collapse, now keyed by (x, split): one corpus
    pass produces ≤22 sufficient-statistic cells, training iterates over
    the 11 train cells, evaluation is one pass over the 11 held-out cells
    with per-cell terms snapped to decimal (order-free sums).
    """
    li = load_table(spark, sf_dir, "lineitem")
    split_hash = X.char_hash32(
        F.concat_ws(
            ":",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    cells = (
        li.select(
            (F.col("l_discount").cast("decimal(4,2)") * 100)
            .cast("int")
            .alias("x"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
            (split_hash % 5 == 0).alias("heldout"),
        )
        .groupBy("x", "heldout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .localCheckpoint()
    )
    train = cells.filter(~F.col("heldout"))

    def snap12(c):
        return F.round(c.cast("decimal(28,12)"), 12).cast("decimal(24,12)")

    beta = spark.range(1).select(F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"))
    for _ in range(4):
        xd = F.col("x").cast("double")
        nd = F.col("n").cast("double")
        npos = F.col("n_pos").cast("double")
        p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * xd)))
        w = nd * p * (1.0 - p)
        sums = (
            train.crossJoin(F.broadcast(beta))
            .select(
                "b0",
                "b1",
                snap12(npos - nd * p).alias("g0c"),
                snap12(xd * (npos - nd * p)).alias("g1c"),
                snap12(w).alias("h00c"),
                snap12(xd * w).alias("h01c"),
                snap12(xd * xd * w).alias("h11c"),
            )
            .groupBy("b0", "b1")
            .agg(
                F.sum("g0c").cast("double").alias("g0"),
                F.sum("g1c").cast("double").alias("g1"),
                F.sum("h00c").cast("double").alias("h00"),
                F.sum("h01c").cast("double").alias("h01"),
                F.sum("h11c").cast("double").alias("h11"),
            )
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        b0n = F.col("b0") + (
            F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")
        ) / det
        b1n = F.col("b1") + (
            F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")
        ) / det
        beta = sums.select(
            F.round(b0n.cast("decimal(28,12)"), 10).cast("double").alias("b0"),
            F.round(b1n.cast("decimal(28,12)"), 10).cast("double").alias("b1"),
        )

    xd = F.col("x").cast("double")
    p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * xd)))
    ll_cell = snap12(
        -(
            F.col("n_pos").cast("double") * F.log(p)
            + (F.col("n") - F.col("n_pos")).cast("double") * F.log(1.0 - p)
        )
    )
    brier_cell = snap12(
        F.col("n_pos").cast("double") * (1.0 - p) * (1.0 - p)
        + (F.col("n") - F.col("n_pos")).cast("double") * p * p
    )
    correct_cell = F.when(p >= 0.5, F.col("n_pos")).otherwise(
        F.col("n") - F.col("n_pos")
    )
    test = cells.filter(F.col("heldout"))
    n_train = train.agg(F.sum("n").cast("long").alias("n_train"))
    return (
        test.crossJoin(F.broadcast(beta))
        .select("n", "n_pos", ll_cell.alias("llc"), brier_cell.alias("bc"),
                correct_cell.cast("long").alias("cc"))
        .agg(
            F.sum("n").cast("long").alias("n_test"),
            F.sum("llc").cast("double").alias("ll_sum"),
            F.sum("bc").cast("double").alias("b_sum"),
            F.sum("cc").cast("long").alias("n_correct"),
        )
        .crossJoin(F.broadcast(n_train))
        .select(
            "n_train",
            "n_test",
            F.round(
                (F.col("ll_sum") / F.col("n_test").cast("double")).cast(
                    "decimal(28,12)"
                ),
                8,
            )
            .cast("double")
            .alias("test_log_loss"),
            F.round(
                (F.col("b_sum") / F.col("n_test").cast("double")).cast(
                    "decimal(28,12)"
                ),
                8,
            )
            .cast("double")
            .alias("test_brier"),
            F.round(
                (
                    F.col("n_correct").cast("double")
                    / F.col("n_test").cast("double")
                ).cast("decimal(28,12)"),
                8,
            )
            .cast("double")
            .alias("test_accuracy"),
        )
    )


def _logistic_holdout_sql() -> str:
    step = """
beta{k} AS (
    SELECT CAST(ROUND(CAST(b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01)
                AS DECIMAL(28,12)), 10) AS DOUBLE) AS b0,
           CAST(ROUND(CAST(b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01)
                AS DECIMAL(28,12)), 10) AS DOUBLE) AS b1
    FROM (
        SELECT b0, b1,
               CAST(SUM(g0c) AS DOUBLE) AS g0, CAST(SUM(g1c) AS DOUBLE) AS g1,
               CAST(SUM(h00c) AS DOUBLE) AS h00, CAST(SUM(h01c) AS DOUBLE) AS h01,
               CAST(SUM(h11c) AS DOUBLE) AS h11
        FROM (
            SELECT b0, b1,
                   CAST(ROUND(CAST(CAST(n_pos AS DOUBLE) - CAST(n AS DOUBLE) * p AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS g0c,
                   CAST(ROUND(CAST(CAST(x AS DOUBLE) * (CAST(n_pos AS DOUBLE) - CAST(n AS DOUBLE) * p) AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS g1c,
                   CAST(ROUND(CAST(CAST(n AS DOUBLE) * p * (1.0 - p) AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS h00c,
                   CAST(ROUND(CAST(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) * p * (1.0 - p) AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS h01c,
                   CAST(ROUND(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * CAST(n AS DOUBLE) * p * (1.0 - p) AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS h11c
            FROM (
                SELECT train.*, b0, b1,
                       1.0 / (1.0 + EXP(-(b0 + b1 * CAST(x AS DOUBLE)))) AS p
                FROM train CROSS JOIN beta{km1}
            )
        )
        GROUP BY b0, b1
    )
)"""
    steps = ",".join(step.format(k=k, km1=k - 1) for k in range(1, 5))
    return (
        """
WITH cells AS (
    SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INTEGER) AS x,
           (CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), ':',
                CAST(l_linenumber AS VARCHAR))), 1, 8)) AS BIGINT) % 5 = 0) AS heldout,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM lineitem GROUP BY 1, 2
),
train AS (SELECT x, n, n_pos FROM cells WHERE NOT heldout),
beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1),"""
        + steps
        + """
SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM train) AS n_train,
       CAST(SUM(n) AS BIGINT) AS n_test,
       CAST(ROUND(CAST(CAST(SUM(llc) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
            AS DECIMAL(28,12)), 8) AS DOUBLE) AS test_log_loss,
       CAST(ROUND(CAST(CAST(SUM(bc) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
            AS DECIMAL(28,12)), 8) AS DOUBLE) AS test_brier,
       CAST(ROUND(CAST(CAST(SUM(cc) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
            AS DECIMAL(28,12)), 8) AS DOUBLE) AS test_accuracy
FROM (
    SELECT n,
           CAST(ROUND(CAST(
               -(CAST(n_pos AS DOUBLE) * LN(p)
                 + CAST(n - n_pos AS DOUBLE) * LN(1.0 - p))
               AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS llc,
           CAST(ROUND(CAST(
               CAST(n_pos AS DOUBLE) * (1.0 - p) * (1.0 - p)
               + CAST(n - n_pos AS DOUBLE) * p * p
               AS DECIMAL(28,12)), 12) AS DECIMAL(24,12)) AS bc,
           CAST(CASE WHEN p >= 0.5 THEN n_pos ELSE n - n_pos END AS BIGINT) AS cc
    FROM (
        SELECT cells.*, b0, b1,
               1.0 / (1.0 + EXP(-(b0 + b1 * CAST(x AS DOUBLE)))) AS p
        FROM cells CROSS JOIN beta4
        WHERE heldout
    )
)
"""
    )


LOGISTIC_HOLDOUT_SQL = _logistic_holdout_sql()


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains table for the quality score as an
    English-document classifier — the model-eval artifact next to
    auc_quality_langid/calibration_quality: rank docs by score, cut into
    10 equal buckets, and report each decile's positive rate, lift over
    the base rate, and cumulative gain (share of all positives captured
    so far). The 'is the top of my ranking actually enriched' table every
    score deployment reads before thresholds get set.

    Determinism: ntile runs over the (score DESC, doc_id) TOTAL order, so
    bucket boundaries are engine-independent; counts are exact integers
    and every rate/lift/gain is one snapped division of exact sums.

    Scale: one scan computes (score, label); the window is a global sort
    at doc grain — the documented concession for exact deciles (the
    at-scale swap-in is approx percentile boundaries + a broadcast range
    join, same as histogram_equidepth's contract).
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        X.quality_score("text").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    deciles = scored.select(
        "pos", F.ntile(10).over(w).alias("decile")
    ).groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    whole = Window.partitionBy()
    cum_w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    out = deciles.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_pos").over(cum_w).cast("long").alias("cum_pos"),
        F.sum("n_pos").over(whole).cast("long").alias("total_pos"),
        F.sum("n_docs").over(whole).cast("long").alias("total_docs"),
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    base = F.col("total_pos").cast("double") / F.col("total_docs").cast("double")
    return out.select(
        "decile",
        "n_docs",
        "n_pos",
        snap_round(rate, 6).alias("pos_rate"),
        snap_round(rate / base, 6).alias("lift"),
        snap_round(
            F.col("cum_pos").cast("double") / F.col("total_pos").cast("double"), 6
        ).alias("cum_gain"),
    ).orderBy("decile")


DECILE_LIFT_SQL = f"""
WITH stats AS ({TEXT_STATS_SQL}),
scored AS (
    SELECT s.doc_id, s.quality_score AS score,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM stats s JOIN documents d USING (doc_id)
),
deciles AS (
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos
    FROM (SELECT pos, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
          FROM scored)
    GROUP BY decile
),
cum AS (
    SELECT decile, n_docs, n_pos,
           CAST(SUM(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
           CAST(SUM(n_pos) OVER () AS BIGINT) AS total_pos,
           CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs
    FROM deciles
)
SELECT decile, n_docs, n_pos,
       CAST(ROUND(CAST(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS pos_rate,
       CAST(ROUND(CAST((CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
                       / (CAST(total_pos AS DOUBLE) / CAST(total_docs AS DOUBLE))
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS lift,
       CAST(ROUND(CAST(CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE)
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS cum_gain
FROM cum
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# Variance inflation factors (multicollinearity diagnostic)
# ---------------------------------------------------------------------------


def q_vif_collinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the lineitem regressor trio (price,
    discount×100, quantity) — the diagnostic that tells an ols_price_model
    user whether its coefficient variances are inflated by correlated
    regressors. For 3 variables each VIF has the closed correlation form
    VIF_j = (1 − r_kl²) / det(R) with det(R) = 1 − r12² − r13² − r23² +
    2·r12·r13·r23 — so the whole diagnostic is ONE map-side-combined
    moment aggregate (the correlation_matrix power sums) plus constant
    scalar algebra; no per-j auxiliary regressions, no second pass.

    Exactness: power sums in exact DECIMAL (inputs are bounded-precision
    decimals); every r_ij snaps at 8 dp before entering the determinant,
    so both engines run identical double algebra on identical inputs.
    At 100 TB: one aggregate, one row out — scan-speed.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_extendedprice").cast("decimal(12,2)")
    x2 = (F.col("l_discount").cast("decimal(4,2)") * 100).cast("decimal(8,2)")
    x3 = F.col("l_quantity").cast("decimal(12,2)")
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x3).cast("double").alias("s3"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x3 * x3).cast("double").alias("s33"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x1 * x3).cast("double").alias("s13"),
        F.sum(x2 * x3).cast("double").alias("s23"),
    )
    n = F.col("n").cast("double")

    def corr(sij, si, sj, sii, sjj):
        num = n * sij - si * sj
        den = F.sqrt(n * sii - si * si) * F.sqrt(n * sjj - sj * sj)
        return snap_round(F.when(den > 0, num / den), 8)

    r12 = corr(F.col("s12"), F.col("s1"), F.col("s2"), F.col("s11"), F.col("s22"))
    r13 = corr(F.col("s13"), F.col("s1"), F.col("s3"), F.col("s11"), F.col("s33"))
    r23 = corr(F.col("s23"), F.col("s2"), F.col("s3"), F.col("s22"), F.col("s33"))
    det = (
        1.0
        - r12 * r12
        - r13 * r13
        - r23 * r23
        + 2.0 * r12 * r13 * r23
    )
    vif1 = F.when(det > 0, (1.0 - r23 * r23) / det)
    vif2 = F.when(det > 0, (1.0 - r13 * r13) / det)
    vif3 = F.when(det > 0, (1.0 - r12 * r12) / det)
    return sums.select(
        F.col("n").cast("long").alias("n_rows"),
        r12.alias("r_price_discount"),
        r13.alias("r_price_quantity"),
        r23.alias("r_discount_quantity"),
        snap_round(vif1, 6).alias("vif_price"),
        snap_round(vif2, 6).alias("vif_discount"),
        snap_round(vif3, 6).alias("vif_quantity"),
        (
            F.greatest(snap_round(vif1, 6), snap_round(vif2, 6), snap_round(vif3, 6))
            > 5.0
        ).alias("collinear"),
    )


VIF_COLLINEARITY_SQL = """
WITH sums AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
           CAST(SUM(x3) AS DOUBLE) AS s3,
           CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
           CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
           CAST(SUM(x3 * x3) AS DOUBLE) AS s33,
           CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
           CAST(SUM(x1 * x3) AS DOUBLE) AS s13,
           CAST(SUM(x2 * x3) AS DOUBLE) AS s23
    FROM (
        SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS x1,
               CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS DECIMAL(8,2)) AS x2,
               CAST(l_quantity AS DECIMAL(12,2)) AS x3
        FROM lineitem
    )
),
corrs AS (
    SELECT n,
           CAST(ROUND(CAST(CASE WHEN SQRT(CAST(n AS DOUBLE) * s11 - s1 * s1)
                    * SQRT(CAST(n AS DOUBLE) * s22 - s2 * s2) > 0
               THEN (CAST(n AS DOUBLE) * s12 - s1 * s2)
                    / (SQRT(CAST(n AS DOUBLE) * s11 - s1 * s1)
                       * SQRT(CAST(n AS DOUBLE) * s22 - s2 * s2)) END
               AS DECIMAL(28,8)), 8) AS DOUBLE) AS r12,
           CAST(ROUND(CAST(CASE WHEN SQRT(CAST(n AS DOUBLE) * s11 - s1 * s1)
                    * SQRT(CAST(n AS DOUBLE) * s33 - s3 * s3) > 0
               THEN (CAST(n AS DOUBLE) * s13 - s1 * s3)
                    / (SQRT(CAST(n AS DOUBLE) * s11 - s1 * s1)
                       * SQRT(CAST(n AS DOUBLE) * s33 - s3 * s3)) END
               AS DECIMAL(28,8)), 8) AS DOUBLE) AS r13,
           CAST(ROUND(CAST(CASE WHEN SQRT(CAST(n AS DOUBLE) * s22 - s2 * s2)
                    * SQRT(CAST(n AS DOUBLE) * s33 - s3 * s3) > 0
               THEN (CAST(n AS DOUBLE) * s23 - s2 * s3)
                    / (SQRT(CAST(n AS DOUBLE) * s22 - s2 * s2)
                       * SQRT(CAST(n AS DOUBLE) * s33 - s3 * s3)) END
               AS DECIMAL(28,8)), 8) AS DOUBLE) AS r23
    FROM sums
),
dets AS (
    SELECT n, r12, r13, r23,
           1.0 - r12 * r12 - r13 * r13 - r23 * r23
               + 2.0 * r12 * r13 * r23 AS det
    FROM corrs
)
SELECT CAST(n AS BIGINT) AS n_rows,
       r12 AS r_price_discount,
       r13 AS r_price_quantity,
       r23 AS r_discount_quantity,
       CAST(ROUND(CAST(CASE WHEN det > 0 THEN (1.0 - r23 * r23) / det END
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS vif_price,
       CAST(ROUND(CAST(CASE WHEN det > 0 THEN (1.0 - r13 * r13) / det END
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS vif_discount,
       CAST(ROUND(CAST(CASE WHEN det > 0 THEN (1.0 - r12 * r12) / det END
            AS DECIMAL(28,8)), 6) AS DOUBLE) AS vif_quantity,
       GREATEST(
           CAST(ROUND(CAST(CASE WHEN det > 0 THEN (1.0 - r23 * r23) / det END
                AS DECIMAL(28,8)), 6) AS DOUBLE),
           CAST(ROUND(CAST(CASE WHEN det > 0 THEN (1.0 - r13 * r13) / det END
                AS DECIMAL(28,8)), 6) AS DOUBLE),
           CAST(ROUND(CAST(CASE WHEN det > 0 THEN (1.0 - r12 * r12) / det END
                AS DECIMAL(28,8)), 6) AS DOUBLE)) > 5.0 AS collinear
FROM dets
"""


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity test on the price model
# ---------------------------------------------------------------------------


def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan LM test on ols_price_model's regression: do the
    squared residuals move with the regressors? Heteroskedasticity makes
    the OLS standard errors (and every CI built on them) wrong — this is
    the diagnostic that says whether the model's error variance is
    price/discount-dependent.

    Two fact passes, both map-side-combined single aggregates:
    pass 1 re-derives the closed-form coefficients (the ols_price_model
    Cramer solve), each snapped at 8 dp so both engines broadcast
    IDENTICAL doubles; pass 2 forms per-row residuals against the
    broadcast b, snaps e at 4 dp, and aggregates the auxiliary moments
    of u = round(e², 4) in exact DECIMAL (the 4-dp quantization is part
    of the statistic's definition here — deterministic across engines
    by construction). The auxiliary R² of u ~ (1, x1, x2) is the same
    Cramer algebra; LM = n·R² gates on the χ²(2) α=0.05 critical 5.991.

    At 100 TB: two scans, two 1-row aggregates, zero driver round trips
    beyond the plan itself. Round 6: both passes fan out first — the
    per-row decimal moment products are the dominant compute and the
    compact parquet lands in 3 byte-sized splits (profiled: 0.8 + 1.3 s
    in 3-task stages); no-op at real scale (fan_out contract).
    """
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_extendedprice", "l_discount"
        )
    )
    x1, x2, y = _price_xy()
    sums, b, _, _ = _ols2(x1, x2, y, snap=8)
    betas = li.agg(*sums).select(*(c.alias(f"b{i}") for i, c in enumerate(b)))
    e = (
        y.cast("double")
        - F.col("b0")
        - F.col("b1") * x1.cast("double")
        - F.col("b2") * x2.cast("double")
    )
    e4 = F.round(e.cast("decimal(28,8)"), 4).cast("decimal(18,4)")
    u = F.round((e4 * e4).cast("decimal(37,8)"), 4).cast("decimal(18,4)")
    aux_sums, _, sse, sst = _ols2(x1, x2, u)
    lm = snap_round(F.col("n").cast("double") * F.when(sst > 0, 1.0 - sse / sst), 4)
    return li.crossJoin(F.broadcast(betas)).agg(*aux_sums).select(
        F.col("n").cast("long").alias("n_rows"),
        lm.alias("lm_stat"),
        (lm > 5.991).alias("heteroskedastic"),
    )


BREUSCH_PAGAN_SQL = f"""
WITH rows_ AS (
    SELECT {_PRICE_XY_SQL}
    FROM lineitem
),
betas AS (
    SELECT b0, b1, b2 FROM ({_ols2_sql("rows_", snap=8)})
),
resid AS (
    SELECT x1, x2,
           CAST(ROUND(CAST(
               CAST(e4 AS DECIMAL(18,4)) * CAST(e4 AS DECIMAL(18,4))
               AS DECIMAL(37,8)), 4) AS DECIMAL(19,4)) AS y
    FROM (
        SELECT x1, x2,
               CAST(ROUND(CAST(CAST(y AS DOUBLE) - b0
                    - b1 * CAST(x1 AS DOUBLE) - b2 * CAST(x2 AS DOUBLE)
                    AS DECIMAL(28,8)), 4) AS DECIMAL(18,4)) AS e4
        FROM rows_ CROSS JOIN betas
    )
),
stat AS (
    SELECT n,
           CAST(ROUND(CAST(CASE WHEN sst > 0
                THEN CAST(n AS DOUBLE) * (1.0 - sse / sst) END
                AS DECIMAL(28,8)), 4) AS DOUBLE) AS lm
    FROM ({_ols2_sql("resid")})
)
SELECT CAST(n AS BIGINT) AS n_rows, lm AS lm_stat,
       lm > 5.991 AS heteroskedastic
FROM stat
"""


# ---------------------------------------------------------------------------
# Nested-model F-test (does a regressor add signal?)
# ---------------------------------------------------------------------------


def q_nested_f_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-model F-test on the price model: does the discount regressor
    add explanatory power beyond price alone? F = ((SSE_r − SSE_f)/q) /
    (SSE_f/(n−3)) with q = 1 — the model-selection companion to
    ols_price_model (coefficients) and breusch_pagan (error structure).

    Both models' SSEs assemble ALGEBRAICALLY from the same ONE moment
    aggregate (no residual pass): the full model is the 3-parameter
    Cramer solve, the restricted model the 2-parameter closed form —
    identical double expression trees both engines, every coefficient
    snapped at 8 dp before entering its SSE. With n in the tens of
    thousands the F(1, n−3) critical is its asymptotic χ²(1) value
    3.841 (documented). At 100 TB: one map-side-combined aggregate,
    then constants."""
    sums, _, sse_f, _ = _ols2(*_price_xy(), snap=8)
    n = F.col("n").cast("double")
    s1, sy, s11 = F.col("s1"), F.col("sy"), F.col("s11")
    s1y, syy = F.col("s1y"), F.col("syy")
    # restricted model y ~ c0 + c1*x1 (closed 2-param form)
    rdet = n * s11 - s1 * s1
    c1 = snap_round(F.when(rdet != 0, (n * s1y - s1 * sy) / rdet), 8)
    c0 = snap_round((sy - c1 * s1) / n, 8)
    sse_r = syy - c0 * sy - c1 * s1y
    f_stat = snap_round(
        F.when(sse_f > 0, (sse_r - sse_f) / (sse_f / (n - 3.0))), 4
    )
    return load_table(spark, sf_dir, "lineitem").agg(*sums).select(
        F.col("n").cast("long").alias("n_rows"),
        snap_round(sse_r - sse_f, 2).alias("ssr_gain"),
        f_stat.alias("f_stat"),
        (f_stat > 3.841).alias("discount_adds_signal"),
    )


NESTED_F_TEST_SQL = f"""
WITH stat AS (
    SELECT CAST(n AS BIGINT) AS n_rows,
           sse_r - sse_f AS ssr_gain,
           CAST(ROUND(CAST(CASE WHEN sse_f > 0
                THEN (sse_r - sse_f) / (sse_f / (CAST(n AS DOUBLE) - 3.0)) END
                AS DECIMAL(28,8)), 4) AS DOUBLE) AS f_stat
    FROM (
        SELECT n,
               sse AS sse_f,
               syy - (CAST(ROUND(CAST((sy - (CASE WHEN CAST(n AS DOUBLE) * s11
                    - s1 * s1 != 0 THEN CAST(ROUND(CAST(
                    (CAST(n AS DOUBLE) * s1y - s1 * sy)
                    / (CAST(n AS DOUBLE) * s11 - s1 * s1) AS DECIMAL(28,8)), 8)
                    AS DOUBLE) END) * s1) / CAST(n AS DOUBLE)
                    AS DECIMAL(28,8)), 8) AS DOUBLE)) * sy
                   - (CASE WHEN CAST(n AS DOUBLE) * s11 - s1 * s1 != 0
                      THEN CAST(ROUND(CAST((CAST(n AS DOUBLE) * s1y - s1 * sy)
                           / (CAST(n AS DOUBLE) * s11 - s1 * s1)
                           AS DECIMAL(28,8)), 8) AS DOUBLE) END) * s1y AS sse_r
        FROM ({_ols2_sql(f"(SELECT {_PRICE_XY_SQL} FROM lineitem)", snap=8)})
    )
)
SELECT n_rows,
       CAST(ROUND(CAST(ssr_gain AS DECIMAL(28,8)), 2) AS DOUBLE) AS ssr_gain,
       f_stat,
       f_stat > 3.841 AS discount_adds_signal
FROM stat
"""


# ---------------------------------------------------------------------------
# rank-1 ALS — the recommender / matrix-factorization entry
# ---------------------------------------------------------------------------


def q_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 alternating least squares on the (customer x part) quantity
    matrix — the matrix-factorization recommender in its exactly-checkable
    form: v_j seeded at 1, then 3 alternations of the closed-form rank-1
    updates u_i = sum_j r_ij v_j / sum_j v_j^2 (over the items i rated)
    and v_j = sum_i r_ij u_i / sum_i u_i^2. Output: the top-20 parts by
    final item factor (the 'most broadly demanded' axis) with the fit's
    global RMSE riding along.

    Cross-engine discipline (the kmeans/pagerank unrolled-rounds rule):
    factors snap to 6-dp DECIMAL after every half-step; each per-rating
    product term computes in double on those snapped values and snaps to
    DECIMAL(20,6) BEFORE the sum, so every aggregate is exact and
    order-free — the 6 half-steps stay bit-reproducible in both engines.
    Scale: ratings = one map-side-combined fact rollup; each half-step is
    one broadcast-or-keyed join + one groupBy at user/item grain — the
    standard distributed-ALS shuffle shape, k=1 so factors are scalars.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # "users" are suppliers (lineitem's only actor key at fact grain);
    # swapping in a customer key via an orders join changes nothing below
    ratings = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("r"))
        .withColumnRenamed("l_suppkey", "u_id")
        .withColumnRenamed("l_partkey", "i_id")
        .localCheckpoint()
    )

    def snap6(col):
        return F.round(col.cast("decimal(28,8)"), 6).cast("decimal(14,6)")

    def term6(col):
        return F.round(col.cast("decimal(28,7)"), 6).cast("decimal(20,6)")

    # v starts at exactly 1.0 for every item
    v = ratings.select("i_id").distinct().select(
        "i_id", F.lit(1).cast("decimal(14,6)").alias("v")
    )
    # factor relations are user-/item-grain (orders of magnitude under the
    # fact): BROADCAST them into the fact join — the only shuffle per
    # half-step is then the map-side-combined groupBy (the standard
    # distributed-ALS posture; a trillion-item catalog would switch the
    # join keyed, nothing else changes). One localCheckpoint per
    # half-step output pins the lineage at factor grain (KB-sized).
    u = None
    for _ in range(3):
        ru = ratings.join(F.broadcast(v), "i_id").select(
            "u_id",
            term6(F.col("r").cast("double") * F.col("v").cast("double")).alias("rv"),
            term6(F.col("v").cast("double") * F.col("v").cast("double")).alias("vv"),
        )
        u = (
            ru.groupBy("u_id")
            .agg(F.sum("rv").alias("srv"), F.sum("vv").alias("svv"))
            .select(
                "u_id",
                snap6(F.col("srv").cast("double") / F.col("svv").cast("double")).alias("u"),
            )
            .localCheckpoint()
        )
        rv = ratings.join(F.broadcast(u), "u_id").select(
            "i_id",
            term6(F.col("r").cast("double") * F.col("u").cast("double")).alias("ru"),
            term6(F.col("u").cast("double") * F.col("u").cast("double")).alias("uu"),
        )
        v = (
            rv.groupBy("i_id")
            .agg(F.sum("ru").alias("sru"), F.sum("uu").alias("suu"))
            .select(
                "i_id",
                snap6(F.col("sru").cast("double") / F.col("suu").cast("double")).alias("v"),
            )
            .localCheckpoint()
        )

    resid = (
        ratings.join(F.broadcast(u), "u_id")
        .join(F.broadcast(v), "i_id")
        .select(
            term6(
                (
                    F.col("r").cast("double")
                    - F.col("u").cast("double") * F.col("v").cast("double")
                )
                * (
                    F.col("r").cast("double")
                    - F.col("u").cast("double") * F.col("v").cast("double")
                )
            ).alias("e2")
        )
    )
    rmse = resid.agg(
        F.round(
            F.sqrt(
                F.sum("e2").cast("double") / F.count(F.lit(1)).cast("double")
            ).cast("decimal(28,8)"),
            6,
        )
        .cast("double")
        .alias("rmse")
    )
    raters = ratings.groupBy("i_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_raters")
    )
    return (
        v.join(raters, "i_id")
        .crossJoin(F.broadcast(rmse))
        .select(
            F.col("i_id").alias("partkey"),
            F.col("v").cast("double").alias("item_factor"),
            "n_raters",
            "rmse",
        )
        .orderBy(F.desc("item_factor"), "partkey")
        .limit(20)
    )


def _als_round_sql(n: int) -> str:
    """One ALS alternation as two CTEs (u{n} from v{n-1}, v{n} from u{n})."""
    prev_v = f"v{n-1}" if n > 1 else "v0"
    return f"""u{n} AS (
    SELECT u_id,
           CAST(ROUND(CAST(CAST(SUM(rv) AS DOUBLE) / CAST(SUM(vv) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DECIMAL(14,6)) AS u
    FROM (
        SELECT r.u_id,
               CAST(ROUND(CAST(CAST(r.r AS DOUBLE) * CAST(p.v AS DOUBLE)
                   AS DECIMAL(28,7)), 6) AS DECIMAL(20,6)) AS rv,
               CAST(ROUND(CAST(CAST(p.v AS DOUBLE) * CAST(p.v AS DOUBLE)
                   AS DECIMAL(28,7)), 6) AS DECIMAL(20,6)) AS vv
        FROM ratings r JOIN {prev_v} p USING (i_id)
    ) GROUP BY u_id
),
v{n} AS (
    SELECT i_id,
           CAST(ROUND(CAST(CAST(SUM(ru) AS DOUBLE) / CAST(SUM(uu) AS DOUBLE)
               AS DECIMAL(28,8)), 6) AS DECIMAL(14,6)) AS v
    FROM (
        SELECT r.i_id,
               CAST(ROUND(CAST(CAST(r.r AS DOUBLE) * CAST(q.u AS DOUBLE)
                   AS DECIMAL(28,7)), 6) AS DECIMAL(20,6)) AS ru,
               CAST(ROUND(CAST(CAST(q.u AS DOUBLE) * CAST(q.u AS DOUBLE)
                   AS DECIMAL(28,7)), 6) AS DECIMAL(20,6)) AS uu
        FROM ratings r JOIN u{n} q USING (u_id)
    ) GROUP BY i_id
)"""


ALS_RANK1_SQL = f"""
WITH ratings AS (
    SELECT l_suppkey AS u_id, l_partkey AS i_id,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
    FROM lineitem GROUP BY 1, 2
),
v0 AS (SELECT DISTINCT i_id, CAST(1 AS DECIMAL(14,6)) AS v FROM ratings),
{_als_round_sql(1)},
{_als_round_sql(2)},
{_als_round_sql(3)},
resid AS (
    SELECT CAST(ROUND(CAST(
        (CAST(r.r AS DOUBLE) - CAST(q.u AS DOUBLE) * CAST(p.v AS DOUBLE))
        * (CAST(r.r AS DOUBLE) - CAST(q.u AS DOUBLE) * CAST(p.v AS DOUBLE))
        AS DECIMAL(28,7)), 6) AS DECIMAL(20,6)) AS e2
    FROM ratings r JOIN u3 q USING (u_id) JOIN v3 p USING (i_id)
),
rmse AS (
    SELECT CAST(ROUND(CAST(SQRT(CAST(SUM(e2) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(28,8)), 6) AS DOUBLE) AS rmse
    FROM resid
),
raters AS (
    SELECT i_id, CAST(COUNT(*) AS BIGINT) AS n_raters FROM ratings GROUP BY i_id
)
SELECT p.i_id AS partkey,
       CAST(p.v AS DOUBLE) AS item_factor,
       n_raters,
       rmse
FROM v3 p JOIN raters USING (i_id) CROSS JOIN rmse
ORDER BY item_factor DESC, partkey
LIMIT 20
"""
