"""Inputs and DuckDB-side checks for the benchmark.

- make_tables: seeded TPC-H-shaped parquet tables (plus events, documents
  and embeddings) with the column names, types and value domains the
  query registry reads.
- oracle_compare: runs each sampled query's DuckDB oracle SQL over those
  tables and compares it with the Spark output, with the same strictness
  as the repository's oracle check (columns by name, rows sorted, floats
  bitwise).
- duckdb_yardstick: the reference's staging, fact and KPI-view SQL run by
  DuckDB over the same raw CSVs, timed, for context only.
"""
import json
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
WORDS = ["query", "row", "stream", "the", "spark", "line", "small", "fast", "group",
         "customer", "batch", "sort", "value", "hash", "filter", "big", "data", "dup",
         "part", "column", "order", "scan", "a", "slow", "agg", "key", "window", "table",
         "merge", "vector", "join"]


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, n) * 86400_000_000).astype("timedelta64[us]")


def make_tables(out, seed, sf=SCALE):
    """Writes the tables under `out`; returns sizes for the artifact."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_users = int(50000 * sf), int(20000 * sf), int(15000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2498)})
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400_000_000, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    lens = rng.integers(8, 100, n_doc)
    texts = [" ".join(rng.choice(words, k)) for k in lens]
    for i in range(0, n_doc, 97):  # planted exact duplicates for the dedup family
        texts[i] = texts[(i * 7 + 3) % n_doc]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    rows = {}
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))
        rows[name] = tab.num_rows
    return {"registry_scale": str(sf), "registry_rows": json.dumps(rows, sort_keys=True)}


def _norm(df):
    """Columns by name, rows in lexicographic order of their string forms."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        keys = [df[c].astype(str).values for c in reversed(df.columns)]
        df = df.iloc[np.lexsort(keys)]
    return df.reset_index(drop=True)


def _compare(o, s):
    """Returns None when equal, else the first reason they differ."""
    o, s = _norm(o), _norm(s)
    if list(o.columns) != list(s.columns):
        return f"columns oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"rows oracle={len(o)} spark={len(s)}"
    for c in o.columns:
        oc, sc = o[c], s[c]
        if pd.api.types.is_float_dtype(oc) or pd.api.types.is_float_dtype(sc):
            try:
                a, b = oc.astype(float).values, sc.astype(float).values
                eq = (a == b) | (np.isnan(a) & np.isnan(b))
                if not eq.all():
                    return f"{c}: {int((~eq).sum())} float values differ"
                continue
            except (ValueError, TypeError):
                pass
        oc2 = oc.astype(str).where(~oc.isna(), "<NULL>").values
        sc2 = sc.astype(str).where(~sc.isna(), "<NULL>").values
        if not (oc2 == sc2).all():
            i = int(np.argmax(oc2 != sc2))
            return f"{c}: oracle={oc2[i]!r} spark={sc2[i]!r}"
    return None


def oracle_compare(tables, out_dir):
    """Compares every Spark output under out_dir with its oracle SQL."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    fails = []
    for name, sql in sorted(oracles.items()):
        try:
            o = con.execute(sql).df()
            s = duckdb.query(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            why = _compare(o, s)
        except Exception as e:  # an oracle or output error is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            fails.append(f"oracle {name}: {why}")
    return fails


def duckdb_yardstick(raw):
    """Times the reference's staging -> fact -> four KPI views in DuckDB
    over the raw CSVs (union_by_name), three times; reports the median."""
    listing = f"{raw}/*listings*.csv"
    sql = YARDSTICK_SQL.format(listing=listing, raw=raw)
    walls = []
    for _ in range(3):
        con = duckdb.connect()
        con.execute("SET threads = 4")
        t0 = time.perf_counter()
        con.execute(sql)
        counts = [con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                  for v in ("kpi_neighbourhood", "kpi_neighbourhood_raw",
                            "kpi_property_type", "kpi_host")]
        walls.append(time.perf_counter() - t0)
        con.close()
    return {"duckdb_yardstick_s": f"{sorted(walls)[1]:.4f}",
            "duckdb_yardstick_view_rows": ",".join(map(str, counts))}


# The reference pipeline's literal shape: staging with NULL_IF spellings,
# price parse and the (id, filename) dedup; the fact with suburb
# normalisation, the location joins and the snapshot-validity filter; the
# KPI views as full outer joins of per-arm aggregates.
YARDSTICK_SQL = r"""
CREATE TABLE raw_listing AS
  SELECT * FROM read_csv('{listing}', union_by_name = true, header = true,
    all_varchar = true, quote = '"', escape = '"', filename = true,
    nullstr = ['NULL', 'NUL', '\N', '']);
CREATE TABLE staging_location AS
  WITH s AS (SELECT column0 AS k, upper(trim(split_part(column2, ' (', 1))) AS suburb_name,
                    CAST(column5 AS DOUBLE) AS area
             FROM read_csv('{raw}/SSC_2016_AUST.csv', header = true, all_varchar = true,
                           names = ['column0','column1','column2','column3','column4','column5'])),
       l AS (SELECT column0 AS k, CAST(column1 AS INT) AS lga_code,
                    upper(trim(split_part(column2, ' (', 1))) AS lga_name
             FROM read_csv('{raw}/LGA_2020_NSW.csv', header = true, all_varchar = true,
                           names = ['column0','column1','column2'])),
       j AS (SELECT s.suburb_name, l.lga_code, l.lga_name,
                    sum(area) OVER (PARTITION BY l.lga_code) AS lga_total_area
             FROM s FULL OUTER JOIN l ON s.k = l.k WHERE s.suburb_name IS NOT NULL)
  SELECT suburb_name, lga_code, lga_name FROM j
  QUALIFY row_number() OVER (PARTITION BY suburb_name
                             ORDER BY lga_total_area DESC NULLS LAST, lga_code) = 1;
CREATE TABLE staging_listing AS
  SELECT * EXCLUDE (rn) FROM (
    SELECT regexp_extract(filename, '[^/]*$') AS filename,
           CAST(id AS BIGINT) AS id, name, CAST(host_id AS BIGINT) AS host_id,
           CAST(last_scraped AS DATE) AS last_scraped, host_location, host_is_superhost,
           neighbourhood, neighbourhood_cleansed, property_type, room_type,
           CAST(accommodates AS INT) AS accommodates,
           TRY_CAST(replace(split_part(price, '$', -1), ',', '') AS DECIMAL(12, 2)) AS price,
           has_availability, CAST(availability_30 AS INT) AS availability_30,
           row_number() OVER (PARTITION BY id, filename
                              ORDER BY CAST(last_scraped AS DATE) DESC NULLS LAST,
                                       name ASC NULLS LAST) AS rn
    FROM raw_listing) WHERE rn = 1;
CREATE TABLE fact_listing AS
  WITH b AS (
    SELECT *, upper(trim(split_part(host_location, ',', 1))) AS host_suburb,
           trim(replace(replace(replace(replace(upper(trim(neighbourhood)), 'COUNCIL', ''),
                'CITY OF', ''), 'OF THE', ''), 'SAINT ', 'ST ')) AS neighbourhood_suburb,
           CAST(split_part(filename, '_', -2) AS INT) AS file_month,
           CAST(split_part(split_part(filename, '_', -1), '.', 1) AS INT) AS file_year
    FROM staging_listing WHERE price IS NOT NULL AND host_id IS NOT NULL),
  j AS (
    SELECT b.*, ln.lga_name AS nl, lh.lga_name AS hl FROM b
    LEFT JOIN staging_location ln ON b.neighbourhood_suburb = ln.suburb_name
    LEFT JOIN staging_location lh ON b.host_suburb = lh.suburb_name)
  SELECT *,
    CASE WHEN neighbourhood_suburb IS NULL THEN 'OTHER'
         WHEN neighbourhood_suburb LIKE 'NORTH CURL CURL%' THEN 'NORTHERN BEACHES'
         WHEN neighbourhood_suburb LIKE '%DARLING HARBOUR' THEN 'SYDNEY'
         WHEN neighbourhood_suburb IN ('悉尼', 'СИДНЕЙ', 'РЕДФЕРН') THEN 'SYDNEY'
         WHEN neighbourhood_suburb = '스트라스필드' THEN 'STRATHFIELD'
         ELSE coalesce(nl, 'OTHER') END AS neighbourhood_lga,
    CASE WHEN host_suburb IS NULL THEN 'MISSING'
         WHEN host_suburb LIKE 'NORTH CURL CURL%' THEN 'NORTHERN BEACHES'
         WHEN host_suburb LIKE '%DARLING HARBOUR' THEN 'SYDNEY'
         WHEN host_suburb IN ('悉尼', 'СИДНЕЙ', 'РЕДФЕРН') THEN 'SYDNEY'
         WHEN host_suburb = '스트라스필드' THEN 'STRATHFIELD'
         ELSE coalesce(hl, 'MISSING') END AS host_lga
  FROM j
  WHERE last_scraped >= make_date(file_year, file_month, 1)
    AND last_scraped <= last_day(make_date(file_year, file_month, 1));
CREATE VIEW kpi_neighbourhood AS
  WITH t AS (SELECT neighbourhood_lga AS area, file_year, file_month, count(*) AS n_listings,
                    count(DISTINCT host_id) AS n_hosts, min(price) AS min_price,
                    max(price) AS max_price, median(price) AS median_price,
                    avg(price) AS avg_price FROM fact_listing GROUP BY ALL),
       a AS (SELECT neighbourhood_lga AS area, file_year, file_month, count(*) AS n_active,
                    sum((30 - availability_30) * price) AS est_revenue_active
             FROM fact_listing WHERE has_availability = 't' GROUP BY ALL),
       s AS (SELECT neighbourhood_lga AS area, file_year, file_month,
                    count(DISTINCT host_id) AS n_superhosts
             FROM fact_listing WHERE host_is_superhost = 't' GROUP BY ALL),
       i AS (SELECT neighbourhood_lga AS area, file_year, file_month, count(*) AS n_inactive
             FROM fact_listing WHERE has_availability = 'f' GROUP BY ALL)
  SELECT * FROM t FULL OUTER JOIN a USING (area, file_year, file_month)
    FULL OUTER JOIN s USING (area, file_year, file_month)
    FULL OUTER JOIN i USING (area, file_year, file_month);
CREATE VIEW kpi_neighbourhood_raw AS
  WITH t AS (SELECT neighbourhood_cleansed AS area, file_year, file_month,
                    count(*) AS n_listings, count(DISTINCT host_id) AS n_hosts,
                    median(price) AS median_price FROM fact_listing GROUP BY ALL),
       a AS (SELECT neighbourhood_cleansed AS area, file_year, file_month, count(*) AS n_active
             FROM fact_listing WHERE has_availability = 't' GROUP BY ALL)
  SELECT * FROM t FULL OUTER JOIN a USING (area, file_year, file_month);
CREATE VIEW kpi_property_type AS
  WITH t AS (SELECT property_type, room_type, accommodates, file_year, file_month,
                    count(*) AS n_listings, count(DISTINCT host_id) AS n_hosts,
                    median(price) AS median_price, avg(price) AS avg_price
             FROM fact_listing GROUP BY ALL),
       a AS (SELECT property_type, room_type, accommodates, file_year, file_month,
                    count(*) AS n_active FROM fact_listing
             WHERE has_availability = 't' GROUP BY ALL)
  SELECT * FROM t FULL OUTER JOIN a
    USING (property_type, room_type, accommodates, file_year, file_month);
CREATE VIEW kpi_host AS
  WITH t AS (SELECT host_lga, file_year, file_month, count(DISTINCT host_id) AS n_hosts,
                    count(*) AS n_listings, avg(price) AS avg_price
             FROM fact_listing GROUP BY ALL),
       a AS (SELECT host_lga, file_year, file_month, count(*) AS n_active
             FROM fact_listing WHERE has_availability = 't' GROUP BY ALL)
  SELECT * FROM t FULL OUTER JOIN a USING (host_lga, file_year, file_month);
"""
