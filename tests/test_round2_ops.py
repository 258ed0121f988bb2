"""Brute-force and boundary tests for the round-2 operators: containment,
duplicated spans, semantic dedup, Gopher rules, BPE pair counts, Zipf fit.
Each checks the operator against an independent single-threaded
recomputation on small synthetic inputs (the oracle-parity suite covers the
engine-vs-DuckDB contract; these pin the SEMANTICS on adversarial data)."""

from __future__ import annotations

import collections
import itertools
import math

import pytest

from pyspark.sql import functions as F


def _docs(spark, tmp_path, texts, langs=None):
    rows = [
        (i, t, (langs[i] if langs else "en"), f"src{i}", len(t))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _shingles(text, k=3):
    toks = [t for t in "".join(c.lower() if c.isalnum() else " " for c in text).split() if t]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_containment_detects_doc_inside_doc(spark, tmp_path):
    small = "alpha beta gamma delta epsilon zeta eta theta"
    big = small + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(20))
    other = "totally different content about candy inventory and spark plans"
    sf = _docs(spark, tmp_path, [small, big, other])
    from candyspark.operators.dedup import containment_pairs
    from candyspark.sources.readers import load_table

    d = load_table(spark, sf, "documents")
    out = {
        (r["doc_a"], r["doc_b"]): r
        # 32 bands of 1 row: collision prob 1-(1-J)^32, so even the low
        # symmetric Jaccard of a small-doc-in-big-doc pair gets recalled
        # (the operator docstring's "lower the band width" knob)
        for r in containment_pairs(d, "text", "doc_id", bands=32).collect()
    }
    assert (0, 1) in out, "embedded doc must surface as a containment pair"
    r = out[(0, 1)]
    sa, sb = _shingles(small), _shingles(big)
    want_a = len(sa & sb) / len(sa)
    assert r["containment_a"] == pytest.approx(want_a, abs=1e-4)
    assert r["containment_a"] == pytest.approx(1.0, abs=1e-9)  # fully contained
    assert r["jaccard_sim"] < 0.5  # the case Jaccard alone would miss
    assert r["containment_b"] == pytest.approx(len(sa & sb) / len(sb), abs=1e-4)


def test_duplicate_spans_finds_boilerplate(spark, tmp_path):
    boiler = "COPYRIGHT NOTICE ALL RIGHTS RESERVED LICENSE TEXT HERE PLEASE"
    texts = [f"unique document body number {i} with its own words. {boiler}" for i in range(4)]
    texts.append("a completely unrelated page with no shared content at all whatsoever")
    sf = _docs(spark, tmp_path, texts)
    from candyspark.plans.corpus import q_duplicate_spans

    out = q_duplicate_spans(spark, sf).collect()
    assert out, "shared boilerplate must produce duplicated spans"
    # every reported span must truly occur in >= n_docs distinct docs
    for r in out:
        n = sum(1 for t in texts if r["span"] in t)
        assert n == r["n_docs"] >= 2, (r["span"], n, r["n_docs"])
    # at least one span comes from the boilerplate tail shared by 4 docs
    assert any(r["n_docs"] == 4 for r in out)


def test_semantic_dedup_kept_property(spark):
    """Against sf0.001: kept == false iff a LOWER-id vector in the SAME
    cluster has cosine >= 0.4 (single-threaded recomputation)."""
    import numpy as np

    from candyspark.plans.extensions import q_semantic_dedup
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    out = {r["vec_id"]: r for r in q_semantic_dedup(spark, sf).collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in load_table(spark, sf, "embeddings").collect()
    }
    clusters = collections.defaultdict(list)
    for vid, r in out.items():
        clusters[r["cluster_id"]].append(vid)
    checked_dups = 0
    for cid, members in clusters.items():
        members.sort()
        for i, b in enumerate(members):
            has_lower_dup = False
            for a in members[:i]:
                va, vb = vecs[a], vecs[b]
                cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                # mirror the engine's 6-dp snap before thresholding
                if round(cos, 6) >= 0.4:
                    has_lower_dup = True
                    break
            assert out[b]["kept"] == (not has_lower_dup), (cid, b)
            checked_dups += int(has_lower_dup)
    assert checked_dups > 0, "test corpus must contain at least one semantic dup"


def test_gopher_rule_boundaries(spark, tmp_path):
    texts = [
        "the quick brown foxes jumped over their lazy sleeping dogs in a very sunny meadow today and it was nice outside",  # passes
        "tiny doc",  # fails n_words
        "the " + " ".join("supercalifragilistic" for _ in range(30)),  # mean len
        " ".join("123" for _ in range(40)) + " the and of",  # frac_alpha
        " ".join(f"word{i} thing{i}" for i in range(30)),  # stop_hits < 2
    ]
    sf = _docs(spark, tmp_path, texts)
    from candyspark.plans.corpus import q_gopher_quality_filter

    rows = {r["doc_id"]: r for r in q_gopher_quality_filter(spark, sf).collect()}
    assert rows[0]["passes"] is True
    assert rows[1]["passes"] is False and rows[1]["n_words"] < 10
    assert rows[2]["passes"] is False and rows[2]["mean_word_len"] > 10
    assert rows[3]["passes"] is False and rows[3]["frac_alpha"] < 0.8
    assert rows[4]["passes"] is False and rows[4]["stop_hits"] < 2


def test_bpe_pair_counts_brute_force(spark, tmp_path):
    texts = ["low lower lowest", "new newer newest wide wider", "low low new"]
    sf = _docs(spark, tmp_path, texts)
    from candyspark.plans.corpus import q_bpe_pair_counts

    got = {r["pair"]: r["weight"] for r in q_bpe_pair_counts(spark, sf).collect()}
    freq = collections.Counter(
        tok for t in texts for tok in t.lower().split()
    )
    want = collections.Counter()
    for word, f in freq.items():
        for i in range(len(word) - 1):
            want[word[i : i + 2]] += f
    for pair, w in want.items():
        assert got.get(pair) == w, (pair, w, got.get(pair))


def test_zipf_fit_recovers_unit_slope(spark, tmp_path):
    """A corpus built with exact freq = C / rank must fit slope ~ -1."""
    vocab = [f"tok{i:03d}" for i in range(60)]
    words = []
    for rank, tok in enumerate(vocab, start=1):
        words += [tok] * max(1, round(600 / rank))
    # one doc per 50 words to keep rows realistic
    texts = [" ".join(words[i : i + 50]) for i in range(0, len(words), 50)]
    sf = _docs(spark, tmp_path, texts)
    from candyspark.plans.corpus import q_zipf_fit

    row = q_zipf_fit(spark, sf).collect()[0]
    assert row["n_terms"] == len(vocab)
    assert row["zipf_slope"] == pytest.approx(-1.0, abs=0.05)


def test_minhash_accuracy_well_formed(spark):
    """At sf0.001 every candidate pair's estimate is a valid multiple of
    1/32 in [0,1], the true Jaccard is in [0,1], and the reported abs_err
    matches |est - true| (the estimator's error magnitude is data-dependent
    and covered by statistics, not asserted here)."""
    from candyspark.plans.extensions import q_minhash_accuracy

    rows = q_minhash_accuracy(spark, "/root/testdata/sf0.001").collect()
    assert rows, "sf0.001 must yield at least one LSH candidate pair"
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        est32 = r["est_jaccard"] * 32
        # est is snapped to 4 dp, so x32 can be off a grid point by <= 0.0016
        assert abs(est32 - round(est32)) < 0.02
        assert 0.0 <= r["true_jaccard"] <= 1.0
        assert r["abs_err"] == pytest.approx(
            abs(r["est_jaccard"] - r["true_jaccard"]), abs=1e-4
        )


def test_mmr_rerank_matches_independent_chain(spark):
    """The MMR kernel's greedy chain recomputed independently (pure
    numpy over the collected candidate set) must match pick-for-pick,
    and the structural invariants must hold: first pick = max relevance,
    k unique picks per query, ranks 1..k."""
    import numpy as np

    from candyspark.operators.similarity import brute_force_topk, mmr_rerank
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    lam, k = 0.7, 5
    e = load_table(spark, sf, "embeddings")
    cands = brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=20).join(
        e.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "cosine_sim", "c_vec")
    got = (
        mmr_rerank(cands, lam=lam, k=k)
        .orderBy("query_id", "mmr_rank")
        .toPandas()
    )
    raw = cands.toPandas()

    for qid, grp in raw.groupby("query_id"):
        grp = grp.sort_values(
            ["cosine_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.stack(grp["c_vec"].map(np.asarray).to_list()).astype("float64")
        unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
        psim = np.round(unit @ unit.T, 6)  # the kernel's snapped-penalty contract
        rel = grp["cosine_sim"].to_numpy()
        selected, remaining = [], list(range(len(grp)))
        expect = []
        while remaining and len(selected) < k:
            if not selected:
                best, best_score = remaining[0], lam * rel[remaining[0]]
            else:
                best, best_score = -1, -np.inf
                for i in remaining:
                    s = lam * rel[i] - (1 - lam) * float(
                        np.max(psim[np.asarray(selected), i])
                    )
                    if s > best_score:
                        best, best_score = i, s
            selected.append(best)
            remaining.remove(best)
            # mirror the engine's decimal(28,8)→round(6) snap exactly:
            # 0.7·(6dp rel) − 0.3·(6dp penalty) lands on REAL half-way
            # points at the 6th decimal, where Python's half-even round
            # and the engines' HALF_UP decimal rounding disagree
            from decimal import ROUND_HALF_UP, Decimal

            d8 = Decimal(float(best_score)).quantize(
                Decimal("1e-8"), ROUND_HALF_UP
            )
            expect.append(
                (
                    int(grp["neighbor_id"][best]),
                    float(d8.quantize(Decimal("1e-6"), ROUND_HALF_UP)),
                )
            )

        g = got[got["query_id"] == qid].sort_values("mmr_rank")
        assert list(g["neighbor_id"]) == [n for n, _ in expect]
        assert list(g["mmr_score"]) == pytest.approx(
            [s for _, s in expect], abs=1e-9
        )
        assert list(g["mmr_rank"]) == list(range(1, len(expect) + 1))
        assert g["neighbor_id"].is_unique
        # first pick is the pure-relevance argmax
        assert g.iloc[0]["relevance"] == rel.max()


def test_bpe_train_merges_matches_reference_trainer(spark):
    """The 4-round in-engine BPE trainer must produce the same merge table
    as an independent Counter-based reference trainer (greedy leftmost
    application, (weight desc, pair asc) argmax) over the same word
    frequencies."""
    from candyspark.operators.text import tokens
    from candyspark.plans.corpus import q_bpe_train_merges
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = q_bpe_train_merges(spark, sf).toPandas()

    freqs = collections.Counter()
    d = load_table(spark, sf, "documents")
    for row in d.select(F.explode(tokens("text")).alias("w")).collect():
        freqs[row["w"]] += 1
    vocab = {tuple(w): f for w, f in ((tuple(word), n) for word, n in freqs.items())}

    expect = []
    for r in range(1, 5):
        counts = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (l, rr), w = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((r, l, rr, l + rr, w))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rr:
                    out.append(l + rr)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab

    assert [tuple(x) for x in got.itertuples(index=False)] == expect


def test_mmr_rerank_with_fewer_candidates_than_k(spark):
    """A query with fewer candidates than k must return all of them, in
    MMR order, rather than erroring or padding."""
    from candyspark.operators.similarity import mmr_rerank

    rows = [
        (1, 10, 0.9, [1.0, 0.0]),
        (1, 11, 0.8, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, cosine_sim double, c_vec array<double>"
    )
    got = mmr_rerank(df, lam=0.7, k=5).orderBy("mmr_rank").collect()
    assert [r["neighbor_id"] for r in got] == [10, 11]
    assert [r["mmr_rank"] for r in got] == [1, 2]


def test_bpe_trainer_tie_break_is_lexicographic(spark, tmp_path):
    """Equal-weight pairs must resolve (weight desc, left asc, right asc) —
    'zz bb' gives (b,b) and (z,z) equal weight; (b,b) must win round 1."""
    from candyspark.plans.corpus import q_bpe_train_merges

    sf = _docs(spark, tmp_path, ["zz bb", "zz bb"])
    got = q_bpe_train_merges(spark, sf).collect()
    assert (got[0]["left"], got[0]["right"]) == ("b", "b")
    assert got[0]["weight"] == 2


def test_bpe_encode_matches_independent_encoder(spark, tmp_path):
    """q_bpe_encode's per-source symbol totals must equal an independent
    Python pipeline: train merges with the Counter trainer's greedy-leftmost
    application, encode every token, sum per source."""
    from candyspark.plans.corpus import q_bpe_encode, q_bpe_train_merges

    texts = [
        "the cat sat on the mat",
        "the hat and the bat",
        "a cat and a hat chat",
        "mats hats bats cats",
    ]
    sf = _docs(spark, tmp_path, texts)
    merges = [
        (r["left"], r["right"]) for r in q_bpe_train_merges(spark, sf).collect()
    ]

    def encode(word):
        syms = list(word)
        for l, rr in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rr:
                    out.append(l + rr)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    want = {}
    for i, t in enumerate(texts):
        toks = [w for w in t.split() if w]
        src = f"src{i}"
        want[src] = {
            "n_tokens": len(toks),
            "total_chars": sum(len(w) for w in toks),
            "total_syms": sum(len(encode(w)) for w in toks),
        }

    got = {r["source"]: r for r in q_bpe_encode(spark, sf).collect()}
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        assert (g["n_tokens"], g["total_chars"], g["total_syms"]) == (
            w["n_tokens"],
            w["total_chars"],
            w["total_syms"],
        ), src
        # encoding never grows a word and concatenation is invariant
        assert g["total_syms"] <= g["total_chars"]


def test_bpe_fold_concat_invariance(spark):
    """Applying any merge fold preserves the concatenated word (no symbol
    lost or duplicated) — the structural invariant of BPE encoding."""
    from candyspark.plans.corpus import _bpe_chars, _bpe_fold

    df = spark.createDataFrame(
        [("banana",), ("aaaa",), ("ab",), ("",)], "word string"
    )
    out = (
        df.select("word", _bpe_chars(F.col("word")).alias("syms"))
        .select("word", _bpe_fold("a", "n").alias("syms"))
        .select("word", _bpe_fold("an", "an").alias("syms"))
        .select(
            "word",
            F.concat_ws("", "syms").alias("rejoined"),
            F.size("syms").alias("n"),
        )
        .collect()
    )
    for r in out:
        assert r["rejoined"] == r["word"]
    by_word = {r["word"]: r["n"] for r in out}
    # banana -> b,an,an,a -> b,anan,a
    assert by_word["banana"] == 3
    assert by_word["aaaa"] == 4  # no 'an' pairs — untouched


def test_token_budget_waterfilling_properties(spark):
    """The closed-form water level must (a) spend the budget exactly up to
    saturation effects, (b) match an independent iterative waterfiller."""
    import duckdb

    from candyspark.plans.corpus import q_token_budget_allocation

    SF = "/root/testdata/sf0.01"
    rows = q_token_budget_allocation(spark, SF).collect()
    avail = dict(
        duckdb.sql(
            f"""SELECT source, SUM(len(string_split(text, ' ')))
                FROM '{SF}/documents.parquet' GROUP BY source"""
        ).fetchall()
    )
    budget = sum(avail.values()) / 2.0
    w = {s: round(a**0.7, 6) for s, a in avail.items()}

    # independent iterative waterfiller
    active = set(avail)
    alloc = {}
    b_left = budget
    while True:
        w_act = sum(w[s] for s in active)
        lam = b_left / w_act
        sat = [s for s in active if avail[s] <= w[s] * lam]
        if not sat:
            for s in active:
                alloc[s] = w[s] * lam
            break
        for s in sat:
            alloc[s] = avail[s]
            b_left -= avail[s]
            active.remove(s)
    got = {r["source"]: r["allocated_tokens"] for r in rows}
    for s in avail:
        assert abs(got[s] - alloc[s]) <= 1.0, (s, got[s], alloc[s])
    # budget spent (allocations sum to B within per-source rounding)
    assert abs(sum(got.values()) - budget) <= len(avail)
    for r in rows:
        assert r["allocated_tokens"] <= r["available_tokens"]
