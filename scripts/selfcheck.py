#!/usr/bin/env python3
"""Local imitation of the driver's correctness gate: run each oracle SQL
in DuckDB over the sf tables and compare to the Spark result parquet
written by graft.Verify. Usage:
    python3 scripts/selfcheck.py <sfDir> <verifyOutDir>

SPARK_GRAFT_ONLY=q250,q255 checks only the queries Verify ran under the
same filter (its prefix rule); the rest are counted on one SKIP line.

Every run, filtered or not, writes <verifyOutDir>/selfcheck.json: for
each checked query its hash_match, row count, and the sha256 of the
canonical Spark frame and of the canonical oracle frame. Diffing two such
files shows which results moved between two builds.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def frame_sha256(df: pd.DataFrame) -> str:
    """sha256 of a canonical frame: its column names and dtypes, then
    every row as CSV (floats at full precision)."""
    h = hashlib.sha256()
    h.update("\n".join(f"{c}:{t}" for c, t in zip(df.columns, df.dtypes)).encode())
    h.update(df.to_csv(index=False, float_format="%.17g").encode())
    return h.hexdigest()


def record(ok, got=None, want=None) -> dict:
    """One query's selfcheck.json entry; a frame not read is null."""
    return {
        "hash_match": ok,
        "rows": None if got is None else len(got),
        "spark_sha256": None if got is None else frame_sha256(got),
        "oracle_sha256": None if want is None else frame_sha256(want),
    }


def selection():
    """Verify's SPARK_GRAFT_ONLY contract: None when unset, else the set
    of comma-separated, trimmed, non-empty name prefixes."""
    env = os.environ.get("SPARK_GRAFT_ONLY")
    if env is None:
        return None
    return {p.strip() for p in env.split(",") if p.strip()}


def selected(name: str, only) -> bool:
    return only is None or any(name.startswith(p) for p in only)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    only = selection()
    n_pass = n_fail = n_missing = 0
    results = {}
    for name in sorted(n for n in oracle if selected(n, only)):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result written")
            results[name] = record(False)
            n_missing += 1
            n_fail += 1
            continue
        got = None
        try:
            got = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            want = canon(con.sql(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            results[name] = record(False, got)
            n_fail += 1
            continue
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        detail = ""
        if ok:
            # dtype-strict: the driver's hash distinguishes value types
            # (DuckDB sum() over ints -> HUGEINT != Spark BIGINT flipped
            # q100/q119 for two rounds while check_dtype=False hid it here).
            if list(got.dtypes) != list(want.dtypes):
                ok = False
                bad = [
                    f"{c}: spark={gd} oracle={wd}"
                    for c, gd, wd in zip(got.columns, got.dtypes, want.dtypes)
                    if gd != wd
                ]
                detail = "dtype mismatch: " + "; ".join(bad)
        if ok:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
            except AssertionError as e:
                ok = False
                detail = str(e).split("\n")[0]
        else:
            detail = f"cols {list(got.columns)} vs {list(want.columns)}; rows {len(got)} vs {len(want)}"
        results[name] = record(ok, got, want)
        if ok:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {detail}")
            if len(got) and len(want) and list(got.columns) == list(want.columns):
                merged = got.merge(want, indicator=True, how="outer")
                diff = merged[merged["_merge"] != "both"]
                print(diff.head(6).to_string())
            n_fail += 1
    # rows-only queries (no oracle): check rows > 0
    for path in sorted(glob.glob(f"{out_dir}/*/")):
        name = path.rstrip("/").split("/")[-1]
        if name in oracle or not selected(name, only):
            continue
        files = glob.glob(f"{path}/*.parquet")
        got = canon(con.sql(f"SELECT * FROM '{path}/*.parquet'").df()) if files else None
        n = 0 if got is None else len(got)
        results[name] = record(None, got)
        status = "PASS" if n > 0 else "FAIL"
        print(f"{status} {name} (rows-only: {n} rows)")
        if n > 0:
            n_pass += 1
        else:
            n_fail += 1
    n_skip = sum(not selected(n, only) for n in oracle)
    if n_skip:
        print(f"SKIP {n_skip} (SPARK_GRAFT_ONLY)")
    print(f"== {n_pass} pass / {n_fail} fail")
    json.dump(
        {"sf_dir": sf_dir, "pass": n_pass, "fail": n_fail, "queries": results},
        open(f"{out_dir}/selfcheck.json", "w"),
        indent=1,
        sort_keys=True,
    )
    # Machine-readable mirror of the driver gate's per-query shape, so
    # RegistryDoc can label queries added SINCE the last driver gate
    # from local evidence instead of leaving them "pending". Written
    # only for a FULL run (a SPARK_GRAFT_ONLY-filtered Verify leaves
    # most queries unwritten, which must not read as evidence).
    if only is None and n_missing == 0 and all(n in results for n in oracle):
        json.dump(
            {"sf_dir": sf_dir, "queries": {n: {"hash_match": results[n]["hash_match"]} for n in sorted(oracle)}},
            open("SELFCHECK.json", "w"),
            indent=1,
        )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
