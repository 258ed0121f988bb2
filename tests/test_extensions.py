"""Behavioral tests for the extension operators (beyond oracle parity):
dedup finds the corpus's real near-duplicates, ANN recall is measured
against the exact baseline, multimodal stubs behave as documented."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from candyspark.operators.multimodal import binary_metadata, with_binary_payload
from candyspark.operators.similarity import brute_force_topk, lsh_bucketed_topk
from candyspark.plans.extensions import q_dedup_minhash, q_dedup_ngram, q_similarity_bruteforce
from candyspark.sources.readers import load_table

from tests.conftest import SF_SMOKE


def test_ngram_dedup_finds_known_near_dups(spark):
    """The synthetic corpus contains word-identical doc pairs (e.g. within
    441/453/463/466 at sf0.01; analogous pairs exist at every sf) — blocked
    Jaccard must surface high-similarity pairs, all ≥ threshold."""
    pairs = q_dedup_ngram(spark, SF_SMOKE).toPandas()
    assert (pairs.jaccard_sim >= 0.6).all()
    assert (pairs.doc_a < pairs.doc_b).all()


def test_minhash_candidates_superset_quality(spark):
    """Every MinHash-LSH verified pair is a genuine ≥0.5-Jaccard pair, and
    LSH finds the highest-similarity pairs the exact blocked scan finds
    (recall on the ≥0.8 band ≈ 1 at these signature settings)."""
    lsh = q_dedup_minhash(spark, SF_SMOKE).toPandas()
    assert (lsh.jaccard_sim >= 0.5).all()
    exact = q_dedup_ngram(spark, SF_SMOKE).toPandas()
    strong = exact[exact.jaccard_sim >= 0.8]
    if len(strong):
        lsh_pairs = set(zip(lsh.doc_a, lsh.doc_b))
        found = sum((a, b) in lsh_pairs for a, b in zip(strong.doc_a, strong.doc_b))
        assert found / len(strong) >= 0.9


def test_ann_recall_vs_bruteforce(spark):
    """LSH-bucketed ANN: all returned neighbours are true cosine scores, and
    recall@10 against the exact baseline is nontrivial (>0.2 with 8 planes
    on 64-dim clustered embeddings)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(e, q).toPandas()
    ann = lsh_bucketed_topk(e, q).toPandas()
    exact_pairs = set(zip(exact.query_id, exact.neighbor_id))
    ann_pairs = set(zip(ann.query_id, ann.neighbor_id))
    # every ANN hit carries the same cosine the exact scan computed
    merged = ann.merge(
        exact, on=["query_id", "neighbor_id"], suffixes=("_a", "_e"), how="inner"
    )
    assert (merged.cosine_sim_a == merged.cosine_sim_e).all()
    recall = len(exact_pairs & ann_pairs) / len(exact_pairs)
    assert recall > 0.2, f"ANN recall collapsed: {recall}"


def test_bruteforce_is_consistent_topk(spark):
    out = q_similarity_bruteforce(spark, SF_SMOKE).toPandas()
    per_q = out.groupby("query_id")
    assert (per_q.size() == 10).all()
    for _, g in per_q:
        g = g.sort_values("rank")
        assert (g.cosine_sim.diff().dropna() <= 1e-12).all()  # non-increasing


def test_multimodal_stub_and_metadata(spark):
    d = with_binary_payload(load_table(spark, SF_SMOKE, "documents"))
    meta = binary_metadata(d, "doc_id", "payload").toPandas()
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    j = docs.merge(meta, on="doc_id")
    assert (j.n_bytes == j.text.str.len()).all()  # ASCII corpus
    assert (j.header_hex.str.len() == 8).all()


def test_ivf_recall_vs_bruteforce(spark):
    """IVF probes n_probe of 16 inverted lists; every hit carries the exact
    cosine, and recall@10 against the exact baseline is substantial on the
    clustered synthetic embeddings."""
    from candyspark.operators.similarity import ivf_topk

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(e, q).toPandas()
    ivf = ivf_topk(e, q).toPandas()
    merged = ivf.merge(
        exact, on=["query_id", "neighbor_id"], suffixes=("_i", "_e"), how="inner"
    )
    assert (merged.cosine_sim_i == merged.cosine_sim_e).all()
    exact_pairs = set(zip(exact.query_id, exact.neighbor_id))
    ivf_pairs = set(zip(ivf.query_id, ivf.neighbor_id))
    recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
    assert recall > 0.3, f"IVF recall collapsed: {recall}"


def test_resize_kernel_shape(spark):
    from candyspark.operators.multimodal import resize_images

    d = with_binary_payload(load_table(spark, SF_SMOKE, "documents"))
    out = resize_images(d, "doc_id", "payload", width=16, height=8).toPandas()
    assert (out.resized.str.len() == 16 * 8).all()
    assert (out.width == 16).all() and (out.height == 8).all()
    assert len(out) == d.count()  # 1 -> 1


def test_frame_sampling_is_one_to_many(spark):
    from candyspark.operators.multimodal import sample_frames

    d = with_binary_payload(load_table(spark, SF_SMOKE, "documents"))
    out = sample_frames(d, "doc_id", "payload", frame_bytes=64, every_n=2).toPandas()
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()
    n_bytes = docs.set_index("doc_id").text.str.len()
    import math

    want = n_bytes.map(lambda n: math.ceil(math.ceil(max(n, 1) / 64) / 2))
    got = out.groupby("doc_id").size()
    assert got.sort_index().equals(want.sort_index().astype("int64"))
    assert (out.frame_idx % 2 == 0).all()


def test_approx_percentile_swapin_tolerance(spark):
    """robust_stats documents approx_percentile as its 100-TB swap-in (the
    exact form buffers whole groups). Prove the swap-in is sound: at
    accuracy 10000 the sketch's median/quartiles land within 0.5% of exact
    on real data — the error bound a consumer of the swapped plan inherits."""
    from pyspark.sql import functions as F

    from candyspark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    both = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", probs).alias("exact"),
            F.percentile_approx("l_extendedprice", probs, 10000).alias("approx"),
        )
        .collect()
    )
    assert both
    for row in both:
        for e, a in zip(row["exact"], row["approx"]):
            assert abs(a - e) <= 0.005 * e, (row["l_returnflag"], e, a)


def test_udaf_works_over_window_partitions(spark):
    """The GROUPED_AGG pandas UDAF is also a WINDOW function over unbounded
    partitions: attaching the per-group median to every row must agree with
    the groupBy form row-for-row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from candyspark.functions.udaf import median_disc
    from candyspark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    w = Window.partitionBy("l_linestatus")
    windowed = (
        li.select("l_linestatus", median_disc(F.col("l_extendedprice")).over(w).alias("m"))
        .distinct()
        .collect()
    )
    grouped = {
        r["l_linestatus"]: r["m"]
        for r in li.groupBy("l_linestatus")
        .agg(median_disc(F.col("l_extendedprice")).alias("m"))
        .collect()
    }
    assert len(windowed) == len(grouped)
    for r in windowed:
        assert r["m"] == grouped[r["l_linestatus"]]


def test_ewma_closed_form_matches_pandas_ewm(spark):
    """The relational EWMA (plans/temporal.q_ewma_user_value) must equal
    pandas' ewm(alpha=0.5, adjust=True) final value over each user's last
    ≤32 events — an independent semantic check (the DuckDB oracle only
    proves both engines compute the same FORMULA; this proves the formula
    IS the adjusted EWMA)."""
    import pandas as pd

    from candyspark.plans.temporal import q_ewma_user_value
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: r["ewma_value"]
        for r in q_ewma_user_value(spark, sf).collect()
    }
    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
    )
    for user_id, g in ev.groupby("user_id"):
        last = g.sort_values(["ts", "event_id"]).tail(32)
        expect = last["value"].ewm(alpha=0.5, adjust=True).mean().iloc[-1]
        assert abs(got[user_id] - expect) < 1e-3, (user_id, got[user_id], expect)


def test_arrow_python_udf_matches_builtin(spark):
    """API surface: Spark 4's Arrow-optimized Python scalar UDF
    (@udf(useArrow=True) — Arrow batch transfer without the pandas UDF's
    Series boxing). The engine's stance stays JVM-first (UDFs are the slow
    path), but the escape hatch must work and agree with the built-in
    expression it would replace."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from candyspark.sources.readers import load_table

    @udf("double", useArrow=True)
    def py_net(price, disc):
        return float(round(price * (1.0 - disc), 4))

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").limit(500)
    got = li.select(
        py_net("l_extendedprice", "l_discount").alias("net"),
        F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 4)
        .cast("double")
        .alias("want"),
    ).collect()
    assert len(got) == 500
    for r in got:
        assert abs(r["net"] - r["want"]) < 1e-9


def test_weighted_median_matches_numpy(spark):
    """q_weighted_median vs a brute-force numpy weighted median (lower
    weighted median: smallest x with cumweight*2 >= total) — independent
    of the DuckDB oracle, proves the windowed form computes the intended
    statistic."""
    import numpy as np

    from candyspark.plans.outliers import q_weighted_median
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: (r["weighted_median_price"], r["total_weight"])
        for r in q_weighted_median(spark, sf).collect()
    }
    pdf = (
        load_table(spark, sf, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    for flag, g in pdf.groupby("l_returnflag"):
        order = np.argsort(g["l_extendedprice"].values, kind="stable")
        x = np.round(g["l_extendedprice"].values[order], 2)
        w = g["l_quantity"].values[order].astype("int64")
        cum = np.cumsum(w)
        idx = int(np.searchsorted(cum * 2, cum[-1], side="left"))
        assert got[flag][1] == int(cum[-1])
        assert abs(got[flag][0] - float(x[idx])) < 1e-9, (flag, got[flag], x[idx])


def test_gini_matches_numpy(spark):
    """q_gini_by_nation vs the textbook O(n log n) numpy Gini on the same
    per-customer revenues (zero-revenue customers included)."""
    import numpy as np

    from candyspark.plans.outliers import q_gini_by_nation
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {r["nation"]: r["gini"] for r in q_gini_by_nation(spark, sf).collect()}
    o = load_table(spark, sf, "orders").toPandas()
    c = load_table(spark, sf, "customer").toPandas()
    n = load_table(spark, sf, "nation").toPandas()
    spend = o.groupby("o_custkey")["o_totalprice"].sum().round(2)
    c = c.assign(rev=c["c_custkey"].map(spend).fillna(0.0))
    c = c.merge(n, left_on="c_nationkey", right_on="n_nationkey")
    for nation, g in c.groupby("n_name"):
        x = np.sort(g["rev"].values)
        nn = len(x)
        expect = 2.0 * np.sum(np.arange(1, nn + 1) * x) / (nn * np.sum(x)) - (nn + 1.0) / nn
        assert abs(got[nation] - expect) < 1e-4, (nation, got[nation], expect)


def test_triplet_sampling_properties(spark):
    """Structural contract of the contrastive sampler: positives share the
    anchor's label and differ from it; negatives carry a different label;
    at most one triplet per anchor; and the pairing is invariant under
    input repartitioning (the determinism the md5-rank construction buys)."""
    from candyspark.plans.extensions import q_triplet_sampling
    from candyspark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    out = q_triplet_sampling(spark, sf).collect()
    assert out, "sampler produced no triplets"
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf, "embeddings").select("vec_id", "label").collect()
    }
    anchors = [r["anchor_id"] for r in out]
    assert len(anchors) == len(set(anchors))
    for r in out:
        assert labels[r["pos_id"]] == r["anchor_label"]
        assert r["pos_id"] != r["anchor_id"]
        assert r["neg_label"] != r["anchor_label"]
        assert labels[r["neg_id"]] == r["neg_label"]
    # determinism: a different physical partitioning must not change pairs
    again = q_triplet_sampling(spark, sf).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_apply_in_arrow_grouped_map(spark):
    """API surface: Spark 4's groupBy().applyInArrow (grouped-map over raw
    Arrow Tables — no pandas boxing). Must agree with the built-in
    aggregate it mirrors; the engine's real kernels stay mapInArrow /
    applyInPandas (operators/multimodal.py, operators/allocation.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import functions as F

    from candyspark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_returnflag", "l_quantity"
    )

    def summarize(table: pa.Table) -> pa.Table:
        return pa.table(
            {
                "l_returnflag": [table.column("l_returnflag")[0].as_py()],
                "total": [pc.sum(table.column("l_quantity")).as_py()],
                "n": [table.num_rows],
            }
        )

    got = {
        r["l_returnflag"]: (r["total"], r["n"])
        for r in li.groupBy("l_returnflag")
        .applyInArrow(summarize, "l_returnflag string, total double, n long")
        .collect()
    }
    want = {
        r["l_returnflag"]: (r["total"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert abs(got[k][0] - want[k][0]) < 1e-6


def test_exact_quantiles_matches_holistic_percentile(spark):
    """operators/quantiles.exact_quantiles (distributed order-statistic
    extraction) must return bit-equal interpolated quantiles to Spark's
    holistic F.percentile across a dense prob grid — including p=0/p=1
    and probs whose rank lands exactly on an integer."""
    from pyspark.sql import functions as F

    from candyspark.operators.quantiles import exact_quantiles
    from candyspark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    probs = [i / 20.0 for i in range(21)]
    mine = {
        r["p"]: r["value"]
        for r in exact_quantiles(spark, li, "l_extendedprice", probs).collect()
    }
    ref = li.agg(
        F.percentile("l_extendedprice", F.array(*[F.lit(p) for p in probs]))
    ).collect()[0][0]
    assert len(mine) == len(probs)
    for i, p in enumerate(probs):
        assert abs(mine[p] - ref[i]) < 1e-9, (p, mine[p], ref[i])


def test_dedup_embedding_lsh_subset_and_recall(spark):
    """The primary (LSH-bucketed) dedup_embedding is candidates→exact-verify:
    every returned pair must appear in the all-pairs verifier with the
    IDENTICAL cosine (precision 1.0 by construction), and recall vs. the
    exact form stays ≥ 0.75 — a deterministic bound here (md5 planes, fixed
    fixture), and a worst case: every fixture pair sits at the τ=0.4
    threshold angle where per-plane collision is lowest."""
    from candyspark.plans.extensions import q_dedup_embedding, q_dedup_embedding_exact

    lsh = q_dedup_embedding(spark, SF_SMOKE).toPandas()
    exact = q_dedup_embedding_exact(spark, SF_SMOKE).toPandas()
    exact_map = {(a, b): c for a, b, c in zip(exact.vec_a, exact.vec_b, exact.cosine_sim)}
    assert len(lsh) > 0
    for a, b, c in zip(lsh.vec_a, lsh.vec_b, lsh.cosine_sim):
        assert exact_map[(a, b)] == c  # subset, same cosine
    recall = len(lsh) / len(exact)
    assert recall >= 0.75, f"LSH dedup recall collapsed: {recall}"


def test_dedup_embedding_adaptive_planes_branch(spark):
    """The adaptive planes>4 branch (2k generated vectors → planes=6):
    output is still a subset of the exact all-pairs verifier with
    identical cosines, and recall stays useful. Falls back to the sf0.1
    driver fixture if the generated corpus is absent."""
    import math, os

    gen = "/root/repo/.scale/gen0.1"
    sf_dir = gen if os.path.isdir(f"{gen}/embeddings.parquet") else "/root/testdata/sf0.1"
    from candyspark.operators.similarity import embedding_dup_pairs, embedding_dup_pairs_lsh

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    planes = max(4, math.ceil(math.log2(n / 32.0)))
    assert planes > 4, f"fixture too small to exercise the branch (n={n})"
    lsh = embedding_dup_pairs_lsh(e, planes=planes).toPandas()
    exact = embedding_dup_pairs(e).toPandas()
    exact_map = {(a, b): c for a, b, c in zip(exact.vec_a, exact.vec_b, exact.cosine_sim)}
    for a, b, c in zip(lsh.vec_a, lsh.vec_b, lsh.cosine_sim):
        assert exact_map[(a, b)] == c
    if len(exact):
        # borderline-τ fixtures are the recall worst case; just pin nontrivial
        assert len(lsh) / len(exact) >= 0.3, (len(lsh), len(exact))


def test_adaptive_planes_bounds_bucket_occupancy(spark):
    """The scaling invariant behind dedup_embedding_adaptive: with
    planes = ceil(log2(n/32)), MEAN bucket occupancy per table stays ≤ 64
    (≈ target 32, ×2 slack for hash unevenness at small n), so candidate
    volume is Θ(tables·n·B) — the linear-in-n property the round-6 decade
    probe measured (SCALE_BENCH.json embdedup_adaptive_*). Checked on the
    sf0.1 fixture and, when present, the 2k-vector generated corpus."""
    import math, os

    from candyspark.operators.similarity import _with_buckets
    from candyspark.sources.readers import fan_out

    dirs = ["/root/testdata/sf0.1"]
    if os.path.isdir("/root/repo/.scale/gen0.1/embeddings.parquet"):
        dirs.append("/root/repo/.scale/gen0.1")
    for d in dirs:
        e = spark.read.parquet(f"{d}/embeddings.parquet")
        n = e.count()
        planes = max(4, math.ceil(math.log2(n / 32.0)))
        b = _with_buckets(fan_out(e), "vid", "vec", tables=2, planes=planes)
        occ = (
            b.groupBy("tbl", "bucket").count().groupBy("tbl")
            .agg(F.avg("count").alias("mean_occ")).collect()
        )
        for r in occ:
            assert r["mean_occ"] <= 64, (d, n, planes, r["mean_occ"])
