"""CLI entry point — the ``python3 src/main.py`` analogue of the reference
(/root/reference/src/main.py:112-180), as ``python -m candyspark``.

Runs the full batch pipeline (load → explode → allocate → finalize → daily
summary → forecast) and writes the reference's five CSV outputs. Differences
from the reference driver, on purpose (SURVEY.md §4.2):

- one SparkSession, dims loaded once (reference loads products 4×);
- no count()/show() actions as control flow — flow metrics ride the output
  jobs (df.observe accumulators, zero extra scans) and are printed;
- configuration via flags with environment fallbacks (CANDYSPARK_DATA_DIR,
  CANDYSPARK_OUTPUT_DIR — the reference's .env/load_dotenv role); DB
  connector settings remain deployment concerns passed to the session
  factory, not pipeline inputs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m candyspark",
        description="Run the candy batch pipeline end-to-end (reference parity).",
    )
    p.add_argument(
        "--data-dir",
        default=os.environ.get("CANDYSPARK_DATA_DIR", "/root/reference/data/dataset_32"),
        help="input dir with customers.csv, products.csv, transactions_*.json",
    )
    p.add_argument(
        "--output-dir",
        default=os.environ.get("CANDYSPARK_OUTPUT_DIR", "./output"),
        help="where the five CSV outputs land",
    )
    p.add_argument("--forecast-days", type=int, default=1)
    p.add_argument(
        "--forecast-method",
        default="auto",
        choices=["auto", "linear", "seasonal", "holt"],
        help="deterministic forecaster (the reference's Prophet fit is "
        "run-date-anchored and unreproducible — SURVEY.md §2.12)",
    )
    args = p.parse_args(argv)

    from candyspark.forecast import forecast_sales_and_profits
    from candyspark.pipeline import run_pipeline, save_outputs
    from candyspark.session import get_spark
    from candyspark.sources.sinks import save_single_csv

    t0 = time.time()
    spark = get_spark(app_name="candyspark-pipeline")
    try:
        outputs, obs = run_pipeline(spark, args.data_dir)
        save_outputs(outputs, args.output_dir)

        forecast = forecast_sales_and_profits(
            outputs.daily_summary,
            horizon=args.forecast_days,
            method=args.forecast_method,
        )
        save_single_csv(forecast, args.output_dir, "sales_profit_forecast.csv")

        for stage, ob in obs.items():
            print(f"[metrics] {stage}: {ob.get}")
        print(f"[done] 5 outputs in {args.output_dir} ({time.time() - t0:.1f}s)")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
