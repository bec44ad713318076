"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB at the given sf dir, compares row count, column names (sorted),
and values (order-insensitive, exact) — stricter than any value-hash
ON VALUES, but the driver additionally hashes the oracle frame's
serialized dtypes: a DuckDB HUGEINT (e.g. SUM(INTEGER) widens) vs
Spark BIGINT is value-equal here yet hash-mismatches at the driver
(observed r2: session_islands, sample_split, text_stats, udaf_grouped).

`--dtypes` audits exactly that boundary: for every oracled query it
resolves the DuckDB relation's logical column types (lazy, no rows
fetched) against the Spark DataFrame schema (plan only, no job), and
FAILs any column whose DuckDB type has no exact Spark twin (HUGEINT,
unsigned ints) or whose type family disagrees (int vs float vs decimal
vs string vs temporal). Run it after adding or editing any oracle.

`--recall` audits the no-oracle ANN queries: exact top-k ground truth
from the cosine_topk DuckDB oracle, recall@5 per variant against
corpus-calibrated floors (see RECALL_FLOORS).

Usage: python tools/check.py [--dtypes|--recall] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from nt_etl_order_book_spark.session import get_spark
from nt_etl_order_book_spark.tables import TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.map(str))


def values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if pd.isna(a) and pd.isna(b):
        return True
    try:
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not values_equal(x, y)]
        if bad:
            i, x, y = bad[0]
            problems.append(f"col {col}: {len(bad)} mismatches; first row {i}: spark={x!r} duck={y!r}")
    return problems


# DuckDB logical types that exist in Spark's type system, normalized to
# a comparison family. Anything absent (HUGEINT, UBIGINT, ...) is an
# automatic audit failure regardless of the Spark side.
_DUCK_FAMILY = {
    "BOOLEAN": "bool",
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "FLOAT": "float",
    "DOUBLE": "float",
    "VARCHAR": "string",
    "BLOB": "binary",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
}

_SPARK_FAMILY = {
    "boolean": "bool",
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


def _family(type_str: str, table: dict[str, str]) -> str:
    t = type_str.strip().lower() if table is _SPARK_FAMILY else type_str.strip().upper()
    if t.startswith(("decimal", "DECIMAL")):
        return "decimal"
    if t.startswith(("array", "list", "LIST", "ARRAY", "struct", "STRUCT", "map", "MAP")):
        return "nested"
    return table.get(t, f"UNSUPPORTED({type_str})")


def dtype_audit(spark, con, qs, oracles, sf_dir: str, only: set[str]) -> int:
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if (only and name not in only) or name not in oracles:
            continue
        problems = []
        try:
            rel = con.sql(oracles[name])
            duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
            spark_types = dict(fn(spark, sf_dir).dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: audit error: {e}")
            n_fail += 1
            continue
        for col, dt in duck_types.items():
            dfam = _family(dt, _DUCK_FAMILY)
            if dfam.startswith("UNSUPPORTED"):
                problems.append(f"{col}: duck type {dt} has no Spark twin")
                continue
            st = spark_types.get(col)
            if st is None:
                problems.append(f"{col}: missing on spark side")
                continue
            sfam = _family(st, _SPARK_FAMILY)
            if dfam != sfam and "nested" not in (dfam, sfam):
                problems.append(f"{col}: duck {dt} ({dfam}) vs spark {st} ({sfam})")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            n_pass += 1
    print(f"\ndtype audit: {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


# The rows-only ANN queries carry no oracle by contract (bucketing is
# hash-/codebook-specific), so the driver can only count their rows.
# This mode gives them the quantitative check the driver can't: exact
# top-k ground truth from the cosine_topk DuckDB oracle (explicit DOUBLE
# arithmetic — float32 list_cosine_similarity disagrees with Spark) and
# recall@k per variant. Floors are corpus-calibrated: LSH multi-probe
# measures 1.0 at sf0.01/sf0.1; IVF on an ISOTROPIC corpus is bounded by
# probed mass ≈ N_PROBE/N_CELLS (≈0.69 at 11/16) plus rank luck — measured
# 0.940 / 0.920 — the floor guards regressions on the worst-case corpus;
# clustering quality is asserted ≥0.9 in tests/test_skew_and_ann.py.
# PQ on the isotropic corpus: ADC-ordering quality is the analog of
# IVF's probed-mass bound — with PQ_CAND=200 re-ranked exactly, measured
# 0.96 at sf0.01 / 0.84 at sf0.1; the floor guards both SFs.
RECALL_FLOORS = {
    "ann_lsh_topk": 0.8,
    "ann_ivf_topk": 0.85,
    "ann_pq_topk": 0.75,
    # IVF-PQ compounds the probed-mass cap with ADC ordering error:
    # measured 0.92 / 0.86 at sf0.01 / sf0.1 with CAND=200.
    "ann_ivfpq_topk": 0.75,
    # Persisted-index serving path: same query side (ivfpq_query) over
    # codebooks/codes read back from parquet, so the same floor holds.
    "ann_ivfpq_apply": 0.75,
}


def recall_audit(spark, con, qs, oracles, sf_dir: str) -> int:
    exact = con.execute(oracles["cosine_topk"]).fetchdf()
    truth = exact.groupby("qid")["vec_id"].apply(set).to_dict()
    failed = False
    for name, floor in RECALL_FLOORS.items():
        got = qs[name](spark, sf_dir).toPandas().groupby("qid")["vec_id"].apply(set).to_dict()
        recalls = [len(got.get(q, set()) & s) / len(s) for q, s in truth.items()]
        recall = sum(recalls) / len(recalls)
        ok = recall >= floor
        failed |= not ok
        print(f"{'PASS' if ok else 'FAIL'}  {name}: recall@5 = {recall:.3f} (floor {floor})")
    return 1 if failed else 0


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--dtypes", "--recall")]
    dtypes_mode = "--dtypes" in sys.argv[1:]
    recall_mode = "--recall" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if os.environ.get("SPARK_CHECK_DRIVER_MIMIC"):
        # Hostile-session mode: build the session the way an external
        # driver might (non-UTC, default confs) so the per-query
        # tune_session wrapper is what's actually under test.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("check-driver-mimic")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if dtypes_mode:
        return dtype_audit(spark, con, qs, oracles, sf_dir, only)
    if recall_mode:
        return recall_audit(spark, con, qs, oracles, sf_dir)
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
