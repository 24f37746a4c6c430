"""DuckDB oracles over the generated source tables, and the comparison
every checked output goes through.

The SQL restates each graph query over the raw star-schema tables (the
graph is never read back), so a wrong join, filter or projection in the
program shows up as a mismatch.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# the derived relations every oracle query reads, materialized once
_DERIVED = """
CREATE TABLE sampled AS
  SELECT 'C' || o_custkey AS src, 'P' || l_partkey AS dst,
         CAST(SUM(l_quantity) AS BIGINT) AS ab
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2
  UNION ALL
  SELECT 'C' || o_custkey, 'S' || l_suppkey, CAST(SUM(l_quantity) AS BIGINT)
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2;
CREATE TABLE infects AS
  SELECT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst,
         ROUND(AVG(l_quantity), 4) AS crispr,
         ROUND(AVG(l_extendedprice), 4) AS blast,
         ROUND(AVG(l_discount), 4) AS blastx,
         ROUND(AVG(l_tax), 4) AS pfam,
         CASE WHEN MAX(l_quantity) > 45 THEN 1 ELSE 0 END AS interaction
  FROM lineitem GROUP BY 1, 2;
CREATE TABLE study_member AS
  SELECT 'R' || n_regionkey AS study, 'C' || c_custkey AS sample
  FROM customer JOIN nation ON c_nationkey = n_nationkey;
CREATE TABLE node_names AS
  SELECT 'P' || p_partkey AS id, p_name AS name, 'Phage' AS label FROM part
  UNION ALL SELECT 'S' || s_suppkey, s_name, 'Bacterial_Host' FROM supplier
  UNION ALL SELECT 'C' || c_custkey, c_name, 'SampleID' FROM customer
  UNION ALL SELECT 'R' || r_regionkey, r_name, 'StudyID' FROM region
  UNION ALL SELECT 'N' || n_nationkey, n_name, 'PatientID' FROM nation
  UNION ALL SELECT DISTINCT 'D' || c_mktsegment, c_mktsegment, 'Disease' FROM customer
  UNION ALL SELECT DISTINCT 'T' || o_orderpriority, o_orderpriority, 'TimePoint'
            FROM orders;
"""

Q1 = """
SELECT a.name AS from_name, b.name AS to_name,
       interaction, crispr, blast, blastx, pfam
FROM infects i JOIN node_names a ON i.src = a.id JOIN node_names b ON i.dst = b.id
{where}
"""

Q4 = """
SELECT s1.src AS sample1, s1.dst AS phage, s1.ab AS phage_abundance,
       i.dst AS host, s2.src AS sample2, s2.ab AS host_abundance
FROM sampled s1
JOIN study_member m1 ON s1.src = m1.sample AND m1.study = $study
JOIN infects i ON s1.dst = i.src
JOIN sampled s2 ON s2.dst = i.dst
JOIN study_member m2 ON s2.src = m2.sample AND m2.study = $study
WHERE s1.ab > 0 AND s2.ab > 0
"""

Q5 = """
WITH sp AS (
  SELECT s.src AS sample, s.dst AS node, s.ab
  FROM sampled s JOIN study_member m ON s.src = m.sample AND m.study = $study
  WHERE s.ab > 0
), lengths AS (
  SELECT 'P' || p_partkey AS id, CAST(p_size AS BIGINT) AS length FROM part
), net AS (
  SELECT DISTINCT a.sample, a.node AS phage, a.ab AS phage_abundance,
         i.dst AS host, b.ab AS host_abundance,
         lp.length AS phage_length, lh.length AS host_length
  FROM sp a JOIN infects i ON a.node = i.src
  JOIN sp b ON b.sample = a.sample AND b.node = i.dst
  LEFT JOIN lengths lp ON lp.id = a.node
  LEFT JOIN lengths lh ON lh.id = i.dst
)
SELECT *,
       ROUND(1e7 * phage_abundance / COALESCE(phage_length, 1000), 0) AS phage_norm,
       ROUND(1e7 * host_abundance / COALESCE(host_length, 1000), 0) AS host_norm,
       ROUND(LOG10(ROUND(1e7 * phage_abundance / COALESCE(phage_length, 1000), 0)
                   * ROUND(1e7 * host_abundance / COALESCE(host_length, 1000), 0)), 6)
         AS weight
FROM net
"""

Q6 = "SELECT name FROM node_names WHERE label = $label"

Q7 = """
SELECT s.src AS sample, s.dst AS n, i.dst AS m
FROM sampled s
JOIN customer c ON s.src = 'C' || c.c_custkey
JOIN infects i ON s.dst = i.src
WHERE 'D' || c.c_mktsegment = $disease AND s.ab > $min_ab
"""

COUNTS = """
SELECT label AS kind, CAST(COUNT(*) AS BIGINT) AS n FROM node_names GROUP BY 1
UNION ALL SELECT 'Infects', COUNT(*) FROM infects
UNION ALL SELECT 'Sampled', COUNT(*) FROM sampled
"""


class Oracle:
    """A DuckDB connection with the generated tables as views."""

    def __init__(self, src_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{src_dir}/duckdb_tmp'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src_dir}/{t}.parquet')"
            )
        self.con.execute(_DERIVED)

    def df(self, sql: str, params: dict | None = None) -> pd.DataFrame:
        return self.con.execute(sql, params or {}).df()

    def close(self) -> None:
        self.con.close()


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, numbers as float64, NULL strings as a sentinel,
    rows sorted — so two result multisets compare position by position."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_numeric_dtype(out[c]) or out[c].isna().all():
            out[c] = pd.to_numeric(out[c], errors="coerce").astype("float64")
        else:
            out[c] = out[c].astype(object).where(out[c].notna(), "\x00NULL")
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame, atol: float = 0.0) -> str | None:
    """None when ``got`` equals canonical ``want`` (floats within atol),
    else a one-line reason."""
    g = canonical(got)
    if list(g.columns) != list(want.columns):
        return f"columns {list(g.columns)} != {list(want.columns)}"
    if len(g) != len(want):
        return f"{len(g)} rows != {len(want)} expected"
    for c in g.columns:
        a, b = g[c].to_numpy(), want[c].to_numpy()
        if a.dtype == np.float64 and b.dtype == np.float64:
            ok = np.isclose(a, b, rtol=0.0, atol=atol, equal_nan=True)
        else:
            ok = a == b
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


def corrupt(want: pd.DataFrame) -> pd.DataFrame:
    """A deliberately wrong expectation: the first finite number shifted
    by one, else the last row dropped, else one bogus row added."""
    bad = want.copy()
    for c in bad.columns:
        if bad[c].dtype == np.float64:
            finite = np.flatnonzero(np.isfinite(bad[c].to_numpy()))
            if len(finite):
                bad.loc[finite[0], c] += 1.0
                return bad
    if len(bad):
        return bad.iloc[:-1]
    row = {c: (0.0 if bad[c].dtype == np.float64 else "\x00BOGUS") for c in bad.columns}
    return pd.DataFrame([row], columns=bad.columns)
