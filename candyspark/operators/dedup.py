"""Deduplication operators (SURVEY.md §2.13): exact, n-gram Jaccard,
MinHash+LSH, SimHash — the scrub stage of an LLM-data pipeline.

Scale design (the point of each algorithm):

- **exact**: one hash-aggregate on the normalized-text key. At 100 TB,
  group on ``md5(normalized)`` (fixed 32-byte shuffle key) rather than the
  text itself so the shuffle carries digests, not documents.
- **n-gram Jaccard**: exact pairwise similarity within a blocking key
  (here: ``lang``), generated from an inverted index so only pairs that
  share a shingle meet — posting-list-bounded, not O(|block|²).
- **MinHash+LSH**: the scale path for all-pairs near-dup. Signatures are a
  per-row expression (no shuffle); candidate generation is a self-join on
  (band, band-signature) — documents only meet if they collide in ≥1 band —
  then candidates are verified with true Jaccard. Tuning (H hashes, b bands)
  trades recall vs. candidate count; H=32, b=8 targets J≳0.5 (``NUM_HASHES``,
  ``BANDS``: every near-dup query uses them, and the oracle SQL embeds the
  same values).
- **SimHash**: 32-bit near-dup digest; Hamming-distance buckets via
  (digest >> k) prefixes. One expression per row, join on prefix.

All hashes derive from md5 (``text.char_hash32``) so every step is
bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from candyspark.operators.text import char_hash32, normalized_text, word_shingles
from candyspark.sources.readers import fan_out

#: word-shingle width of every dedup measure
SHINGLE_K = 3
#: n-gram Jaccard floor of ``ngram_jaccard_pairs``
NGRAM_THRESHOLD = 0.6
#: MinHash signature length and LSH band count (8 bands of 4 rows)
NUM_HASHES = 32
BANDS = 8
#: verified-similarity floor of the LSH pairs: Jaccard for
#: ``minhash_lsh_pairs``, either containment direction for ``containment_pairs``
LSH_THRESHOLD = 0.5


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per normalized text; report group
    size. Grouping on the md5 digest keeps the shuffle key fixed-width."""
    return (
        df.select(
            F.col(id_col), F.md5(normalized_text(text_col)).alias("content_key")
        )
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two DISTINCT-element arrays, as exact decimal-
    snapped double (array_intersect/union keep distinct semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).cast("decimal(28,8)"), 4
    ).cast("double")


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, block_col: str
) -> DataFrame:
    """Word-3-gram Jaccard pairs >= ``NGRAM_THRESHOLD`` within ``block_col``
    via an INVERTED INDEX: only pairs that SHARE a shingle materialize
    (posting-list self-join on (block, shingle)); |A∩B| is the pair's join
    count, |A∪B| follows by inclusion-exclusion from per-doc shingle counts,
    and the division + 4-dp snap mirror ``jaccard`` exactly. The result is
    the blocked all-pairs one (a threshold > 0 drops every zero-overlap
    pair, J = 0) while the cost is posting-list-bounded instead of
    |block|² — the rewrite that took dedup_threshold_curve 14.7 s -> ~3 s
    and dedup_ngram 8.6 -> ~2 s at sf0.1."""
    sh = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(block_col).alias("block"),
            F.explode(F.array_distinct(word_shingles(text_col, SHINGLE_K))).alias("s"),
        )
        .localCheckpoint()  # feeds sizes AND the posting self-join
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
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
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
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= NGRAM_THRESHOLD)
    )


#: Mersenne prime 2^31 - 1: (a*h + b) stays under 2^62 for h < p, so the
#: universal-hash family below never overflows signed 64-bit in either engine.
MINHASH_PRIME = 2147483647


def perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) multiplier/offset pairs for the universal
    hash family h_i(x) = (a_i*x + b_i) mod p, derived per-slot from md5 —
    no shipped state, and the oracle embeds the same literals.

    Independence matters here and the first version got it wrong: with
    a_i = a₁·(i+1), b_i = b₁·(i+1) every slot is the scalar multiple
    h_i(x) = (i+1)·h₁(x) mod p of ONE hash — 32 correlated permutations,
    not 32 permutations. Correlated slots wreck the match-fraction
    estimator's variance (measured: 0/32 slots matching on a J≈0.09 pair
    where ~3 are expected, i.e. LSH recall collapses exactly on the
    low-J/containment pairs banding is supposed to catch). md5 of the slot
    index gives pairwise-unrelated constants; `a` is forced nonzero."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        (
            (h32(f"minhash:a:{i}") % MINHASH_PRIME) or 1,
            h32(f"minhash:b:{i}") % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def shingle_hashes(text_col: str) -> Column:
    """Each shingle md5-hashed ONCE to a value < p. MinHash then derives all
    H signature slots by arithmetic permutation of these — H× less md5 than
    hashing (i, shingle) pairs, the difference between scan-speed and
    CPU-bound at 100 TB."""
    return F.transform(
        word_shingles(text_col, SHINGLE_K), lambda s: char_hash32(s) % MINHASH_PRIME
    )


def minhash_signature(hashed_col: Column) -> Column:
    """MinHash signature over a hashed shingle array: slot i is min over
    shingle hashes h of (a_i*h + b_i) mod p.

    Expressed as ONE ``F.aggregate`` fold over the hash array, zip-minning a
    ``NUM_HASHES``-slot accumulator per shingle — not as a transform over
    slots with an inner scan. The slot-major form re-evaluates its input
    array once per slot (Catalyst's CollapseProject counts a projected
    column as a single reference and happily inlines the md5 subtree into
    the lambda, making signatures ``NUM_HASHES``× more expensive — measured
    108 s vs 2 s at sf0.1). A fold's input array is evaluated exactly once
    per row no matter what the optimizer inlines."""
    consts = perm_consts(NUM_HASHES)
    a_arr = F.array(*[F.lit(a) for a, _ in consts])
    b_arr = F.array(*[F.lit(b) for _, b in consts])
    init = F.array(*[F.lit(MINHASH_PRIME).cast("bigint")] * NUM_HASHES)
    return F.aggregate(
        hashed_col,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
            lambda m, i: F.least(
                m,
                (h * F.element_at(a_arr, i + 1) + F.element_at(b_arr, i + 1))
                % MINHASH_PRIME,
            ),
        ),
    )


def band_keys(sig_col: Column, bands: int) -> Column:
    """array<struct<band, band_key>>: md5 digest per signature band of
    ``NUM_HASHES // bands`` rows (fixed 32-byte join key regardless of band
    width)."""
    rows_per_band = NUM_HASHES // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                        lambda h: h.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_key"),
        ),
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: banded signature collision → candidate
    pairs → exact-Jaccard verification. Returns (doc_a, doc_b, jaccard_sim ≥
    ``LSH_THRESHOLD``).

    Shuffle discipline: the band self-join carries only (doc_id, band_key) —
    16-ish bytes per row per band, never the shingle arrays; candidate pairs
    (a tiny relation after LSH) then re-join the shingle table for
    verification. Carrying shingles through the band shuffle would multiply
    shuffle volume by bands × document size."""
    verified = minhash_candidate_shingles(df, text_col, id_col)
    sim = jaccard(F.col("sh_a"), F.col("sh_b"))
    return verified.select("doc_a", "doc_b", sim.alias("jaccard_sim")).filter(
        F.col("jaccard_sim") >= LSH_THRESHOLD
    )


def minhash_candidate_shingles(
    df: DataFrame, text_col: str, id_col: str, bands: int = BANDS
) -> DataFrame:
    """The shared LSH candidate stage: banded signature collision →
    (doc_a, doc_b, sh_a, sh_b) with both sides' shingle arrays re-joined
    for verification. ``minhash_lsh_pairs`` (Jaccard) and
    ``containment_pairs`` (asymmetric containment) differ only in the
    measure they verify with."""
    df = fan_out(df)  # shingle hashing is CPU-bound; don't serialize on 1 split
    # tokenize + shingle ONCE and materialize (round 6): the signature side
    # and BOTH verify-side joins previously re-derived word_shingles from
    # text — the band self-join's exchange is deduped by ReuseExchange but
    # the two shingle joins are keyed differently, so the corpus paid the
    # tokenize+shingle CPU three times. One checkpointed (doc_id, sh)
    # relation feeds all three; signature hashes derive from the same
    # arrays (transform(sh, char_hash32 % p) ≡ shingle_hashes(text)).
    sh_tbl = df.select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, SHINGLE_K).alias("sh")
    ).localCheckpoint()
    sigs = sh_tbl.select(
        "doc_id",
        minhash_signature(
            F.transform(F.col("sh"), lambda s: char_hash32(s) % MINHASH_PRIME)
        ).alias("sig"),
    )
    banded = sigs.select(
        "doc_id", F.explode(band_keys(F.col("sig"), bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])  # collide in ≥1 band → once
    )
    return (
        cand.join(sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str, bands: int = BANDS
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT on LSH candidates: |A∩B| / |A| (and
    /|B|) — the doc-inside-doc detector (quotes, boilerplate wrappers,
    near-supersets) that symmetric Jaccard under-scores whenever sizes
    differ: a page fully embedded in one 10× larger scores J ≈ 0.1 but
    containment 1.0. Emits pairs where EITHER direction ≥ ``LSH_THRESHOLD``.
    Same candidate economics as minhash_lsh_pairs (containment ≥ Jaccard
    always, so candidates recalled for J ≥ t cover containment ≥ t when
    size ratios are moderate; for extreme ratios lower the band width)."""
    verified = minhash_candidate_shingles(df, text_col, id_col, bands)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")

    def cont(side: str):
        denom = F.size(F.array_distinct(F.col(side))).cast("double")
        return F.round(
            F.when(denom > 0, inter / denom).otherwise(F.lit(0.0)).cast("decimal(28,8)"),
            4,
        ).cast("double")

    out = verified.select(
        "doc_a",
        "doc_b",
        cont("sh_a").alias("containment_a"),
        cont("sh_b").alias("containment_b"),
        jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= LSH_THRESHOLD
    )


def token_hashes(text_col: str) -> Column:
    """Word tokens md5-hashed once each — stage this as its own column
    before feeding ``simhash32`` (same hash-once discipline as MinHash)."""
    return F.transform(
        F.filter(F.split(F.lower(F.col(text_col)), r"\W+"), lambda x: x != ""),
        lambda t: char_hash32(t),
    )


def simhash32(hashed_col: Column) -> Column:
    """32-bit SimHash over a PRE-HASHED token array column: bit j of the
    digest is the sign of Σ_tokens (±1 depending on bit j of the token
    hash). Near-identical texts agree on most bits; Hamming distance ≤ d ⇒
    near-dup. The 32 bit-sums are arithmetic passes over the hash array —
    taking a column reference keeps the md5 pass out of the 32× loop."""

    def bit_sum(j: int) -> Column:
        return F.aggregate(
            hashed_col,
            F.lit(0),
            lambda acc, h: acc + F.when(F.shiftright(h, j) % 2 == 1, 1).otherwise(-1),
        )

    digest = F.lit(0).cast("bigint")
    for j in range(32):
        digest = digest + F.when(bit_sum(j) > 0, F.lit(2 ** j)).otherwise(0).cast("bigint")
    return digest
