"""Expected results of the query and drain workloads, from the DuckDB oracle.

For every operation of the query and drain workloads this runs the
registry's DuckDB ``sql`` over the tables under ``data/`` and stores the row
count and an order-insensitive value hash in ``oracle_cache.json`` next to
this file. The hash is taken over a canonical form: columns sorted by name, datetimes
normalised to microseconds, floats rounded to 6 places, rows sorted; the
same form the repository's oracle sweep hashes. The cache records the
SHA-256 of each parquet file it was computed on; the benchmark refuses a
cache whose hashes do not match its data. Spark's own output is never
cached as the expected value.

Regenerate the whole cache with one command (about a minute, mostly the
recursive dedup_clusters oracle):

    python3 perfbench/oracle.py [--out PATH]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
import warnings

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "oracle_cache.json")


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    warnings.filterwarnings("ignore", "Could not infer format", UserWarning)
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif pdf[c].dtype == object:
            try:
                pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
            except (ValueError, TypeError):
                pdf[c] = pdf[c].astype(str)
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def summary(pdf: pd.DataFrame) -> dict:
    """Row count and value hash of a result, in canonical form."""
    c = canon(pdf.copy())
    return {
        "rows": int(c.shape[0]),
        "columns": list(c.columns),
        "hash": hashlib.md5(c.to_csv(index=False).encode()).hexdigest(),
    }


def load() -> dict:
    with open(CACHE) as f:
        return json.load(f)


def table_hashes(spec) -> dict[str, str]:
    """SHA-256 of each parquet file the workload reads."""
    out = {}
    for table in spec.tables:
        with open(os.path.join(spec.data_dir, f"{table}.parquet"), "rb") as f:
            out[table] = hashlib.sha256(f.read()).hexdigest()
    return out


def regenerate(out: str = CACHE) -> dict:
    """Recompute every expected result into ``out``."""
    import duckdb

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    from candyspark.plans import collect_registry

    registry = collect_registry()
    cache: dict = {}
    for spec in WORKLOADS.values():
        if spec.sf is None:
            continue
        entry = cache.setdefault(spec.sf_tag, {"tables": {}, "queries": {}})
        entry["tables"].update(table_hashes(spec))
        con = duckdb.connect()
        for table in spec.tables:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{spec.data_dir}/{table}.parquet'")
        for name in spec.ops:
            sql = registry[name].sql
            if sql is None:
                raise SystemExit(f"{name} has no oracle SQL; it cannot be in a workload")
            t = time.time()
            entry["queries"][name] = summary(con.execute(sql).df())
            print(f"{spec.sf_tag} {name}: {entry['queries'][name]['rows']} rows "
                  f"({time.time() - t:.1f}s)", flush=True)
        con.close()
    with open(out, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
        f.write("\n")
    return cache


def main() -> None:
    p = argparse.ArgumentParser(description="Regenerate the oracle cache.")
    p.add_argument("--out", default=CACHE)
    regenerate(p.parse_args().out)


if __name__ == "__main__":
    main()
