"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf dir, compares row count, schema (column
names), and an order-insensitive value hash (columns sorted by name,
rows sorted, doubles rounded).

Usage: python tools/parity.py [sf_dir] [query ...]

Env modes:
- ``PARITY_VANILLA=1`` — bare driver-identical SparkSession.
- ``PARITY_REPLAY=0|max`` — pin the session driver-replay budget
  (``spark.kkbox_churn.driverReplayMaxRows``) to 0 (every auto-mode
  operator forced onto its DISTRIBUTED fixed point) or huge (every
  one onto its driver replay), and default the gate selection to
  ``AUTO_GATES``; a green sweep each way makes replay==distributed a
  sweep-level oracle-checked invariant, not just per-operator unit
  tests (VERDICT r4 task #7).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# every gate whose plan routes through an auto-mode (replay-vs-
# distributed) operator: components / pagerank / k-core / HITS /
# DBSCAN / markov / power iteration / rank engine / huber / quantile
# trend / quality classifier
AUTO_GATES = [
    "dedup_components", "dedup_components_star", "dedup_canonical",
    "dedup_weights", "dedup_effective_size", "lsh_modularity",
    "lsh_dbscan", "supplier_pagerank", "hits_suppliers",
    "kcore_suppliers", "markov_stationary", "pca_power_eigen",
    "pmi_top_factor", "quality_classifier_fit",
    "quality_classifier_apply", "streaming_quality_scores",
    "huber_location", "quantile_trend", "ks_source_matrix",
    "deletion_cascade", "adamic_adar_trades",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif s.dtype == object:
            # unify NULL representations first: Spark's toPandas
            # yields None, DuckDB's fetchdf yields NaN for the same
            # SQL NULL in object columns — astype(str) would split
            # them into 'None' vs 'nan' (r5 full-registry fuzz catch
            # on a NULL boolean column)
            s = s.where(~s.isna(), "<NULL>").astype(str)
        out[c] = s
    nd = pd.DataFrame(out)
    return nd.sort_values(list(nd.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import os

    import __spark_entry__ as entry_mod

    if os.environ.get("PARITY_VANILLA"):
        # replicate the DRIVER's session exactly: a bare builder with
        # no engine-side tuning — catches any gate that silently
        # depends on get_spark configs (TZ, Arrow, AQE dials)
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from kkbox_churn_prediction_spark.session import get_spark

        spark = get_spark(master="local[8]")
    replay = os.environ.get("PARITY_REPLAY")
    if replay is not None:
        budget = "2000000000" if replay == "max" else str(int(replay))
        spark.conf.set("spark.kkbox_churn.driverReplayMaxRows", budget)
        if not only:
            only = set(AUTO_GATES)
        print(f"PARITY_REPLAY: driverReplayMaxRows={budget}, "
              f"{len(only)} gates")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only check)")
            if len(sdf) == 0:
                failed.append(name)
            continue
        odf = con.execute(oracles[name]).fetchdf()
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        else:
            a, b = normalize(sdf), normalize(odf)
            if not a.equals(b):
                neq = [c for c in a.columns if not a[c].equals(b[c])]
                problems.append(f"values differ in {neq}")
                for c in neq[:3]:
                    mask = a[c] != b[c]
                    print(f"  sample diff {c}:\n{pd.concat([a[mask][c].head(3), b[mask][c].head(3)], axis=1)}")
                    print(a[mask].head(2).to_string(), "\n---\n", b[mask].head(2).to_string())
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"{name}: rows={len(sdf)} {status}")
        if problems:
            failed.append(name)
    print("\nRESULT:", "ALL OK" if not failed else f"FAILED: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
