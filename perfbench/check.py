"""Output checks, made after the timed region.

Keys with a DuckDB oracle (`SparkEntry.oracleSql`, dumped by the harness)
are compared row for row with it on the same generated inputs, with the
conventions of scripts/dev_check.py: column sets equal, rows sorted on
every column, floats compared exactly (both engines round their outputs). Keys without an
oracle are checked against invariants every correct output satisfies. The
ingest workload is checked against the data it was served: the compacted
lake must equal the deduplicated klines, and the near-dup decisions must
equal those of the cold pass, which runs the plain batch loop (no re-sends,
no state compaction).
"""
import json
from pathlib import Path

import duckdb
import pandas as pd


def _cell(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v) if isinstance(v, (list, tuple, dict)) else v


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame):
    """None when equal, else a one-line reason."""
    if list(a.columns) != list(b.columns):
        return f"columns differ: {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"rows differ: {len(a)} vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            bad = ~((av.isna() & bv.isna()) | (av.astype(float) == bv.astype(float)))
        else:
            bad = ~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))
        if bad.any():
            i = bad.idxmax()
            return f"value differs in {c} at row {i}: {av[i]!r} vs oracle {bv[i]!r}"
    return None


def _minhash_lsh(df):
    j = (df.n_inter / df.n_union).round(6)
    if len(df) == 0:
        return "no pairs"
    if not (df.id1 < df.id2).all() or df.duplicated(["id1", "id2"]).any():
        return "pairs not unique with id1 < id2"
    if not ((df.jaccard >= 0.3) & (df.jaccard <= 1) & (df.jaccard == j)).all():
        return "jaccard outside [0.3, 1] or not n_inter / n_union"
    return None


def _invariant(key, df):
    if key == "minhash_lsh":
        return _minhash_lsh(df)
    return "no oracle and no invariant for this key"


def _duck(data: Path, work: Path):
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{work / 'duck'}'")
    for t in ["events", "documents", "embeddings", "klines"]:
        p = data / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _queries(keys, data: Path, out: Path, work: Path):
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = _duck(data, work)
    fails = []
    for key in keys:
        try:
            got = pd.read_parquet(out / key)
            if key in oracle:
                why = compare(norm(got), norm(con.sql(oracle[key]).df()))
            else:
                why = _invariant(key, got)
        except Exception as e:  # a crashed check is a failed check
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            fails.append({"op": key, "reason": why})
    return fails


KLINE_COLS = ("symbol, open_time_ms, open, high, low, close, volume_base, "
              "volume_quote, n_trades, taker_buy_base, taker_buy_quote")


def _set_diff(con, a: str, b: str):
    n_a = con.sql(f"SELECT count(*) FROM ({a})").fetchone()[0]
    n_b = con.sql(f"SELECT count(*) FROM ({b})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
    miss = con.sql(f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))").fetchone()[0]
    if n_a != n_b or extra or miss:
        return f"{n_a} rows vs {n_b} expected ({extra} unexpected, {miss} missing)"
    return None


def _ingest(data: Path, out: Path, work: Path):
    con = _duck(data, work)
    klines = f"SELECT {KLINE_COLS} FROM klines"
    fails = []
    for name, root in [("cold pass", out / "ingest"), ("last pass", work / "pass")]:
        lake = (f"SELECT {KLINE_COLS} FROM read_parquet('{root}/lake/*/*/*/*.parquet',"
                " hive_partitioning = true)")
        fails += _diff(con, f"{name}: compacted lake", lake, klines)
    dec = ("SELECT * FROM read_parquet('{}/neardup/decisions/*/*.parquet',"
           " hive_partitioning = true)")
    fails += _diff(con, "last pass: near-dup decisions", dec.format(work / "pass"),
                   dec.format(out / "ingest"))
    return fails


def _diff(con, op: str, a: str, b: str):
    try:
        why = _set_diff(con, a, b)
    except Exception as e:
        why = f"{type(e).__name__}: {str(e)[:200]}"
    return [{"op": op, "reason": why}] if why else []


def run(workload: str, spec: dict, data: Path, out: Path, work: Path):
    """Returns (failures, number of checked outputs)."""
    if workload == "ingest":
        return _ingest(data, out, work), 3
    keys = list(spec["keys"])
    return _queries(keys, data, out, work), len(keys)
