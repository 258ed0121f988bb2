"""Corpus-preparation CLI — the training-data twin of ``python -m candyspark``
(which drives the reference-parity candy pipeline). Runs the composed
LLM-data flow over a documents table and writes training-ready artifacts:

  clean (quality/length gates) → exact dedup → deterministic split
  → per-(split, lang) sequence packing manifest

Every stage is an already-oracle-checked operator (plans/corpus.py:
corpus_clean / dataset_split / pack_sequences discipline); the CLI only
composes and lands them. Outputs:

  <out>/documents/          survivors, parquet partitioned by split
                            (train/val/test subdirs prune at read time)
  <out>/pack_manifest/      per-(split, lang, bin) packing manifest parquet
  one JSON summary line on stdout (counts per split — the driver-readable
  receipt, same contract shape as bench.py)

Usage:
  python -m candyspark.corpus_cli --sf-dir /root/testdata/sf0.001 \
      --output-dir ./corpus_out [--bin-tokens 4096]
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main(argv: list[str] | None = None, *, stop_session: bool = True) -> int:
    p = argparse.ArgumentParser(prog="python -m candyspark.corpus_cli")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    p.add_argument("--output-dir", default="./corpus_out")
    p.add_argument("--bin-tokens", type=int, default=4096)
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument(
        "--near-dedup",
        action="store_true",
        help="also collapse MinHash-LSH near-duplicate clusters "
        "(keep-lowest-doc_id survivor per cluster)",
    )
    p.add_argument(
        "--gopher-rules",
        action="store_true",
        help="also apply the Gopher/C4 rule gates (word-count band, mean "
        "word length, alpha fraction, stop-word presence — the same rules "
        "the gopher_quality_filter query reports)",
    )
    def _nonneg(v: str) -> int:
        n = int(v)
        if n < 0:
            raise argparse.ArgumentTypeError(
                f"--source-cap must be >= 0 (0 disables), got {n} — a negative "
                "cap would silently drop every document"
            )
        return n

    p.add_argument(
        "--source-cap",
        type=_nonneg,
        default=0,
        help="cap every source at N surviving documents (C4-style "
        "de-domination; deterministic md5-content rank — the same "
        "selection the source_caps query checks). 0 disables.",
    )
    p.add_argument(
        "--strip-boilerplate",
        action="store_true",
        help="strip per-source boilerplate segments (10-word segments "
        "repeating in >=20%% of a source's documents and >=3 docs — the "
        "boilerplate_audit predicate, applied) and rewrite text/token "
        "counts; documents stripped to nothing are dropped and counted",
    )
    p.add_argument(
        "--balance-langs",
        action="store_true",
        help="cap every language at the minority class's size "
        "(data-driven cap, md5-content rank — the class_balance query's "
        "selection)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from candyspark.operators import text as X
    from candyspark.plans.corpus import join_in_order, word_segments
    from candyspark.session import get_spark
    from candyspark.sources.readers import fan_out, load_table

    t0 = time.time()
    spark = get_spark(app_name="candyspark-corpus")
    spark.sparkContext.setLogLevel("ERROR")

    d = fan_out(load_table(spark, args.sf_dir, "documents"))
    n_gopher_dropped = 0
    if args.gopher_rules:
        from candyspark.plans.corpus import gopher_passes_expr, gopher_signal_exprs

        n_w, mean_len, frac_alpha, stop_hits = gopher_signal_exprs()
        gated = d.filter(gopher_passes_expr(n_w, mean_len, frac_alpha, stop_hits))
        # one observe-free count pair: acceptable at CLI receipt grain
        n_gopher_dropped = d.count() - gated.count()
        d = gated
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        "source",
        X.quality_score("text").alias("quality_score"),
        X.token_count("text").cast("bigint").alias("n_tokens"),
        X.normalized_text("text").alias("norm"),
    ).filter(
        (F.col("quality_score") >= args.min_quality)
        & (F.col("n_tokens") >= args.min_tokens)
    )
    dedup_w = Window.partitionBy("norm").orderBy("doc_id")
    # content-hash split (plans/corpus.q_dataset_split discipline): re-shard-proof,
    # no assignment table — the bucket is a pure function of the content id.
    bucket = X.char_hash32(F.col("doc_id").cast("string")) % 100
    survivors = (
        scored.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
        )
        .select("doc_id", "text", "lang", "source", "n_tokens", "split")
        .localCheckpoint()  # two consumers: the sink and the manifest
    )

    n_near_dropped = 0
    if args.near_dedup:
        # near-dup stage: MinHash-LSH candidate pairs at Jaccard >= 0.5 ->
        # connected components -> keep each cluster's lowest doc_id (the
        # same operators the dedup_clusters/dedup_survivors queries check)
        from candyspark.operators.components import dedup_clusters
        from candyspark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(survivors, "text", "doc_id")
        clusters = dedup_clusters(pairs)
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            "doc_id"
        )
        n_near_dropped = drop.count()
        survivors = survivors.join(drop, "doc_id", "left_anti").localCheckpoint()

    n_boiler_stripped = 0
    n_emptied = 0
    if args.strip_boilerplate:
        # the boilerplate_audit predicate, APPLIED: same 10-word segment
        # grain as dedup_paragraphs, per-(source, segment) document
        # frequency, 5*df >= n_docs_source AND df >= 3 => strip
        # feeds df relation AND the anti-join
        segs = word_segments(survivors, "source").localCheckpoint()
        seg_df = segs.groupBy("source", "seg").agg(
            F.countDistinct("doc_id").alias("df")
        )
        src_docs = survivors.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs_src")
        )
        boiler = (
            seg_df.join(F.broadcast(src_docs), "source")
            .filter((F.col("df") * 5 >= F.col("n_docs_src")) & (F.col("df") >= 3))
            .select("source", "seg")
        )
        kept_segs = segs.join(boiler, ["source", "seg"], "left_anti")
        n_boiler_stripped = segs.count() - kept_segs.count()
        rebuilt = kept_segs.groupBy("doc_id").agg(
            join_in_order("seg_idx", "seg").alias("new_text")
        )
        stripped = (
            survivors.join(rebuilt, "doc_id", "left")
            .withColumn("text", F.coalesce(F.col("new_text"), F.lit("")))
            .drop("new_text")
            .withColumn("n_tokens", X.token_count("text").cast("bigint"))
            .localCheckpoint()
        )
        kept = stripped.filter(F.col("n_tokens") > 0).localCheckpoint()
        n_emptied = stripped.count() - kept.count()
        survivors = kept

    n_source_capped = 0
    if args.source_cap:
        cap_w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
        # checkpoint FIRST: the count would otherwise execute the window
        # plan once for the receipt and again for the materialization
        capped = (
            survivors.withColumn("src_rk", F.row_number().over(cap_w))
            .filter(F.col("src_rk") <= args.source_cap)
            .drop("src_rk")
            .localCheckpoint()
        )
        n_source_capped = survivors.count() - capped.count()
        survivors = capped

    n_balance_dropped = 0
    if args.balance_langs:
        min_n = survivors.groupBy("lang").count().agg(F.min("count").alias("cap"))
        bal_w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
        balanced = (
            survivors.withColumn("lang_rk", F.row_number().over(bal_w))
            .crossJoin(F.broadcast(min_n))
            .filter(F.col("lang_rk") <= F.col("cap"))
            .drop("lang_rk", "cap")
            .localCheckpoint()
        )
        n_balance_dropped = survivors.count() - balanced.count()
        survivors = balanced

    docs_out = os.path.join(args.output_dir, "documents")
    survivors.write.mode("overwrite").partitionBy("split").parquet(docs_out)

    pack_w = Window.partitionBy("split", "lang").orderBy("doc_id")
    packed = (
        survivors.withColumn(
            "end_tok",
            F.sum("n_tokens").over(pack_w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("bin", F.floor((F.col("end_tok") - 1) / args.bin_tokens))
        .groupBy("split", "lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
    )
    manifest_out = os.path.join(args.output_dir, "pack_manifest")
    packed.write.mode("overwrite").parquet(manifest_out)

    counts = {
        r["split"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in survivors.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
        )
        .collect()
    }
    print(
        json.dumps(
            {
                "metric": "corpus_prepared",
                "near_dup_dropped": n_near_dropped,
                "gopher_dropped": n_gopher_dropped,
                "source_capped": n_source_capped,
                "boiler_segments_stripped": n_boiler_stripped,
                "boiler_emptied_docs": n_emptied,
                "balance_dropped": n_balance_dropped,
                "splits": counts,
                "output": args.output_dir,
                "sec": round(time.time() - t0, 2),
            },
            sort_keys=True,
        )
    )
    if stop_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
