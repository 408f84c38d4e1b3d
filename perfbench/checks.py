"""Output checks on a run's first results, made outside every timed span.

* Every job with a DuckDB twin must match it on the generated inputs, as
  tools/oracle_check_strict.py compares them: the engine's parquet read
  through pandas, the twin's result through DuckDB, columns sorted by
  name, every cell rendered to a string, rows sorted.
* Every confusion matrix in MODEL_CHECKS must beat the majority class.
"""
import glob
import os
import sys

import pandas as pd

# The repository's strict DuckDB comparison: cells rendered to strings
# (cell_s), columns sorted by name and rows sorted (canon).
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check_strict import canon, fresh_con  # noqa: E402


def _engine_frame(results_dir, name):
    path = os.path.join(results_dir, name)
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise FileNotFoundError(f"no engine output for {name}")
    return pd.read_parquet(path)


def _binary_columns(df):
    return {c for c in df.columns if df[c].dtype == object
            and df[c].map(lambda v: isinstance(v, (bytes, bytearray))).any()}


def compare(mine, ref):
    """None when the two frames match as the strict checker compares them,
    else the reason they do not. Raw BINARY columns fail: the strict
    checker cannot verify them."""
    binary = sorted(_binary_columns(mine) | _binary_columns(ref))
    if binary:
        return f"raw BINARY output column(s) {binary}"
    mc, mm = canon(mine)
    rc, rm = canon(ref)
    if mc != rc:
        return f"columns {mc} != {rc}"
    if len(mm) != len(rm):
        return f"rows {len(mm)} != {len(rm)}"
    for i, (a, b) in enumerate(zip(mm, rm)):
        if a != b:
            diffs = [f"{c}: {x} vs {y}" for c, x, y in zip(mc, a, b) if x != y]
            return f"row {i}: " + "; ".join(diffs[:3])
    return None


def oracle_failures(data_dir, results_dir, oracle_sql):
    """{job: reason} for every job whose result differs from its twin."""
    con = fresh_con(data_dir)
    con.execute("SET threads TO 2")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            why = compare(_engine_frame(results_dir, name), con.sql(sql).df())
        except Exception as e:  # a crashed check is a failed check
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            bad[name] = why[:300]
    con.close()
    return bad


def model_failures(results_dir, names):
    """{job: reason} for confusion matrices that do not beat the majority
    class (accuracy must exceed the largest class's share of the test set)."""
    bad = {}
    for name in sorted(names):
        try:
            cm = _engine_frame(results_dir, name)
            total = cm["n"].sum()
            acc = cm.loc[cm["label"] == cm["prediction"], "n"].sum() / total
            majority = cm.groupby("label")["n"].sum().max() / total
        except Exception as e:
            bad[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if not acc > majority:
            bad[name] = f"accuracy {acc:.3f} <= majority share {majority:.3f}"
    return bad


def lsh_precision(results_dir, name):
    """Verified ÷ candidate pairs in an LSH candidate audit's census."""
    census = _engine_frame(results_dir, name)["status"].value_counts()
    verified = int(census.get("verified", 0))
    candidates = verified + int(census.get("candidate_only", 0))
    return verified / candidates if candidates else 0.0
