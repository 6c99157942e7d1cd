"""Expected outputs, computed apart from the program, and the comparisons.

- Query keys: each key's `QueryDef.oracle` SQL runs in DuckDB over
  tools/gen_scale.py's (unpermuted) tables; the result is stored once per
  key list.
- reference_etl: a DuckDB brute-force haversine cross join over the raw
  generated files gives the per-plant, per-year counts.
- daily_ingest: the generator's ground truth (truth.json) gives the state
  after every file.

The comparison is tools/check.py's canonical compare (its `canon`): columns
sorted by name, rows sorted by every column, exact values.
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd

# tools/check.py shares this module's name, so it is loaded by path
_spec = importlib.util.spec_from_file_location('tools_check', os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools', 'check.py'))
tools_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(tools_check)
canon, TABLES = tools_check.canon, tools_check.TABLES


def same(got, want):
    """Canonical equality; returns None when equal, else a reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f'columns {list(g.columns)} != {list(w.columns)}'
    if len(g) != len(w):
        return f'rows {len(g)} != {len(w)}'
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return 'values ' + str(e).splitlines()[-1][:200]
    return None


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, '*.parquet')))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def expected_keys(tables_dir, oracle_sql, out_dir):
    """Runs every key's oracle once over `tables_dir` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute('SET threads TO 4')
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    for name, sql in sorted(oracle_sql.items()):
        con.sql(sql).df().to_parquet(os.path.join(out_dir, f'{name}.parquet'))


def etl_expected(d):
    """Per-plant, per-year counts of staged deaths within 10 km, by brute
    force over the raw files: parse, drop `00` dates and unknown or NaN
    communes, keep the first record per name under (birth, death, lat,
    lon) order, stage plants (first unit by tranche, parseable date, valid
    position), cross join, haversine <= 10 km."""
    hav = ('2 * 6371.0 * asin(sqrt(least(pow(sin(radians(p.lat - d.lat) / 2), 2) + '
           'cos(radians(d.lat)) * cos(radians(p.lat)) * pow(sin(radians(p.lon - d.lon) / 2), 2), 1.0)))')
    sql = f"""
    WITH raw AS (
      SELECT line FROM read_csv('{d}/death_*', header = false, columns = {{'line': 'VARCHAR'}},
        delim = '\x01', quote = '', escape = '', auto_detect = false)),
    p0 AS (SELECT trim(substr(line, 1, 80)) AS name,
        try_strptime(substr(line, 82, 8), '%Y%m%d')::DATE AS dob,
        try_strptime(substr(line, 155, 8), '%Y%m%d')::DATE AS dod,
        trim(substr(line, 163, 5)) AS insee FROM raw),
    geo AS (SELECT lpad(CAST(code_commune_INSEE AS VARCHAR), 5, '0') AS insee,
        CAST(latitude AS DOUBLE) AS lat, CAST(longitude AS DOUBLE) AS lon
      FROM read_csv('{d}/city_geo.csv', header = true, all_varchar = true)
      WHERE NOT isnan(CAST(latitude AS DOUBLE)) AND NOT isnan(CAST(longitude AS DOUBLE))),
    v AS (SELECT p0.name, p0.dob, p0.dod, geo.lat, geo.lon FROM p0 JOIN geo USING (insee)
      WHERE p0.dob IS NOT NULL AND p0.dod IS NOT NULL),
    deaths AS (SELECT * FROM (SELECT *, row_number() OVER (
        PARTITION BY name ORDER BY dob, dod, lat, lon) AS rn FROM v) WHERE rn = 1),
    units AS (
      SELECT centrale AS plant, CAST(tranche AS INTEGER) AS tranche,
        date_de_mise_en_service_industrielle AS start, point_gps_wsg84 AS pos, 'THERMAL' AS kind
        FROM read_csv('{d}/thermal.csv', delim = ';', header = true, all_varchar = true)
      UNION ALL
      SELECT centrale, CAST(tranche AS INTEGER), date_de_mise_en_service_industrielle,
        point_gps_wsg84, 'NUCLEAR'
        FROM read_csv('{d}/nuclear.csv', delim = ';', header = true, all_varchar = true)),
    first_unit AS (SELECT * FROM (SELECT *, row_number() OVER (
        PARTITION BY kind, plant ORDER BY tranche) AS rn FROM units) WHERE rn = 1),
    plants AS (SELECT plant AS plant_name, kind AS plant_type,
        CAST(split_part(pos, ',', 1) AS DOUBLE) AS lat,
        CAST(split_part(pos, ',', 2) AS DOUBLE) AS lon
      FROM first_unit WHERE try_strptime(start, '%Y-%m-%d') IS NOT NULL)
    SELECT p.plant_name, p.plant_type, year(d.dod) AS year, count(*) AS n
    FROM deaths d CROSS JOIN plants p
    WHERE {hav} <= 10.0
    GROUP BY 1, 2, 3"""
    con = duckdb.connect()
    con.execute('SET threads TO 4')
    return con.sql(sql).df()


def sha1_ids(names):
    return {hashlib.sha1(n.encode()).hexdigest() for n in names}


def daily_expected(truth):
    """Expected id sets after each file: the upsert of all valid records."""
    acc, out = [], []
    for added in truth['added']:
        acc.extend(added)
        out.append(sha1_ids(acc))
    return out


def load_json(path):
    with open(path) as f:
        return json.load(f)
