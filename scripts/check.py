#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Loads oracle_sql.json from the Verify output dir, runs each oracle SQL in
DuckDB over the testdata parquet tables, and compares against the Spark
result parquet: columns sorted by name, rows sorted by all columns, exact
equality (floats compared bitwise first, with max-abs-diff reported).
"""
import json
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable sort across dtypes (incl. None/NaN)
    key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1) if len(df) else None
    if key is not None:
        df = df.iloc[np.argsort(key.values, kind="stable")]
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    import os
    con = duckdb.connect()
    for t in TABLES:
        # generated corpora (e.g. the 10x scale step) are Spark-written
        # DIRECTORIES named <t>.parquet; driver testdata is single files
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        cols = "*"
        if t == "events":
            # driver testdata types ts as TIMESTAMP_NS; Spark-written
            # scale corpora carry it as raw INT64 nanos (ScaleGen writes
            # the legacy-read long back out). Normalize the view to the
            # same microsecond timestamp Tables.events derives (ts div
            # 1000, truncation toward the epoch) so every oracle sees
            # one type on both corpora.
            ts_type = con.execute(
                f"SELECT typeof(ts) FROM '{src}' LIMIT 1").fetchone()[0]
            if ts_type == "BIGINT":
                cols = ("event_id, make_timestamp(ts // 1000) AS ts, "
                        "user_id, event_type, value, props")
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM '{src}'")
    failures = 0
    for name, sql in sorted(oracles.items()):
        try:
            odf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        try:
            sdf = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            failures += 1
            continue
        o, s = norm(odf), norm(sdf)
        # --- driver-strictness pre-checks -------------------------------
        # The driver hashes canonicalized values with raw pandas: a DuckDB
        # HUGEINT (from an uncast integer SUM) comes back float64 and
        # hash-mismatches Spark's int64 ("420.0" vs "420"); an array/struct
        # Spark column crashes the driver's row sort ("unhashable type").
        # Catch both here so they can't pass the local gate again.
        strict_bad = []
        for c in o.columns:
            if c in s.columns and pd.api.types.is_float_dtype(o[c]) \
                    and pd.api.types.is_integer_dtype(s[c]):
                strict_bad.append(
                    f"{c}: oracle float64 vs spark int (HUGEINT tell — "
                    f"CAST the oracle SUM to BIGINT)")
        for c in s.columns:
            col = s[c]
            if col.dtype == object:
                nn = col.dropna()
                if len(nn) and isinstance(
                        nn.iloc[0], (np.ndarray, list, dict)):
                    strict_bad.append(
                        f"{c}: spark output is array/struct-typed "
                        f"(driver row-sort crashes — emit a CSV string)")
        if strict_bad:
            print(f"FAIL {name}: driver-strictness: {'; '.join(strict_bad)}")
            failures += 1
            continue
        # ----------------------------------------------------------------
        if list(o.columns) != list(s.columns):
            print(f"FAIL {name}: columns oracle={list(o.columns)} spark={list(s.columns)}")
            failures += 1
            continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}")
            failures += 1
            continue
        bad = []
        for c in o.columns:
            oc, sc = o[c], s[c]
            try:
                if pd.api.types.is_float_dtype(oc) or pd.api.types.is_float_dtype(sc):
                    # astype(float) can raise if the other side is a
                    # non-numeric object column (e.g. decimal vs string);
                    # fall through to the string compare in that case.
                    a = oc.astype(float).values
                    b = sc.astype(float).values
                    eq = (a == b) | (np.isnan(a) & np.isnan(b))
                    if not eq.all():
                        d = np.nanmax(np.abs(a - b))
                        bad.append(f"{c} (float, maxdiff={d:.3e}, n_bad={int((~eq).sum())})")
                    continue
            except (ValueError, TypeError):
                pass
            try:
                oc2 = oc.astype(str).where(~oc.isna(), "<NULL>")
                sc2 = sc.astype(str).where(~sc.isna(), "<NULL>")
                if not (oc2.values == sc2.values).all():
                    n_bad = int((oc2.values != sc2.values).sum())
                    i = int(np.argmax(oc2.values != sc2.values))
                    bad.append(f"{c} (n_bad={n_bad}, first: oracle={oc2.values[i]!r} spark={sc2.values[i]!r})")
            except Exception as e:
                bad.append(f"{c} (compare error: {e})")
        if bad:
            print(f"FAIL {name}: value mismatch: {'; '.join(bad)}")
            failures += 1
        else:
            print(f"OK   {name}: {len(o)} rows x {len(o.columns)} cols")
    # rows-only queries (no oracle)
    import glob, os
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracles:
            try:
                n = con.execute(f"SELECT count(*) FROM '{d}*.parquet'").fetchone()[0]
                print(f"ROWS {name}: {n} rows (no oracle)")
            except Exception as e:
                print(f"FAIL {name}: unreadable: {e}")
                failures += 1
    # an empty compare (e.g. stale classes + a name filter that matched
    # nothing) must never read as success
    if not oracles:
        print("\nNO QUERIES CHECKED — empty oracle_sql.json")
        return 1
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out))
