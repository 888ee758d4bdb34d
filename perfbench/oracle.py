"""DuckDB correctness checks, run in a child process so the oracle's memory
never counts toward the benchmark's peak RSS.

    python3 perfbench/oracle.py REQUEST.json RESULT.json

``REQUEST.json`` is either ``{"kind": "queries", "data_dir": ..., "sql":
{name: sql}}`` — each query's row count and order-insensitive hash, the
``tests/test_oracle_parity.py`` convention (columns sorted by name, cells
normalized, rows sorted) — or ``{"kind": "ingest", ...}``: the warehouse
recomputed from every landed raw file with last-write-wins semantics and
compared with the engine's final snapshot.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import sys

import gen


def normalize(rows, columns) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.12g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted(tuple(cell(row[i]) for i in order) for row in rows)


def digest(rows, columns) -> dict:
    """Row count plus a hash that ignores row and column order."""
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for row in normalize(rows, columns):
        h.update(json.dumps(row).encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def check_queries(con, req: dict) -> dict:
    for path in sorted(glob.glob(os.path.join(req["data_dir"], "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    by_sql: dict[str, dict] = {}  # queries graded by one shared oracle run it once
    for sql in set(req["sql"].values()):
        tbl = con.execute(sql).fetch_arrow_table()
        by_sql[sql] = digest([tuple(r.values()) for r in tbl.to_pylist()], tbl.schema.names)
    return {name: by_sql[sql] for name, sql in req["sql"].items()}


KEY = ["Country", "Year", "Scenario", "Category", "Gas", "Unit"]


def expected_warehouse_sql(preload_dir: str, raw_files: list[str]) -> str:
    """The reference pipeline restated in SQL: null-drop over the six
    selected columns, total-GHG and mapped-country filter, decode, recode;
    then last write wins per key — the later landed file wins, and within
    one file the engine's tie-break (highest ReportedValue) applies."""
    countries = ", ".join(f"('{c}', '{n}')" for c, n in gen.COUNTRIES.items())
    files = ", ".join(f"'{f}'" for f in raw_files)
    not_null = " AND ".join(f'"{c}" IS NOT NULL' for c in gen.SELECTED)
    return f"""
    WITH dim(code, name) AS (VALUES {countries}),
    raw AS (
      SELECT *, CAST(regexp_extract(filename, 'emissions_([0-9]+)\\.csv', 1) AS INT) AS batch
      FROM read_csv([{files}], header = true, all_varchar = true, quote = '"',
                    escape = '"', filename = true)
    ),
    cleaned AS (
      SELECT dim.name AS Country, CAST(Year AS INT) AS Year, Scenario, Category,
             '{gen.TOTAL_GAS}' AS Gas, CAST("Reported Value" AS DOUBLE) AS ReportedValue,
             '{gen.UNIT}' AS Unit, batch
      FROM raw JOIN dim ON raw.CountryCode = dim.code
      WHERE {not_null} AND Gas = '{gen.TOTAL_GAS_RAW}'
      UNION ALL
      SELECT Country, Year, Scenario, Category, Gas, ReportedValue, Unit, -1
      FROM read_parquet('{preload_dir}/*.parquet')
    )
    SELECT Country, Year, Scenario, Category, Gas, ReportedValue, Unit FROM cleaned
    QUALIFY row_number() OVER (PARTITION BY {", ".join(KEY)}
                               ORDER BY batch DESC, ReportedValue DESC) = 1
    """


def check_ingest(con, req: dict) -> dict:
    con.execute(f"CREATE TABLE expected AS {expected_warehouse_sql(req['preload_dir'], req['raw_files'])}")
    con.execute(
        "CREATE TABLE actual AS SELECT Country, Year, Scenario, Category, Gas, "
        f"ReportedValue, Unit FROM read_parquet('{req['snapshot_dir']}/*.parquet')"
    )
    missing = con.execute("SELECT count(*) FROM (FROM expected EXCEPT ALL FROM actual)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (FROM actual EXCEPT ALL FROM expected)").fetchone()[0]
    n_expected = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_actual = con.execute("SELECT count(*) FROM actual").fetchone()[0]
    by_scenario = dict(con.execute("SELECT Scenario, count(*) FROM actual GROUP BY 1").fetchall())
    # bytes the live rows occupy as raw CSV lines: the six selected columns
    # (quoted when the Category holds a comma), InventorySubmissionYear (4)
    # and Notation (1), seven commas and a newline
    codes = ", ".join(f"('{n}', '{c}')" for c, n in gen.COUNTRIES.items())
    raw_bytes = con.execute(f"""
        WITH dim(name, code) AS (VALUES {codes})
        SELECT sum(length(code) + length(CAST(Year AS VARCHAR)) + length(Scenario)
                   + length(Category) + CASE WHEN Category LIKE '%,%' THEN 2 ELSE 0 END
                   + {len(gen.TOTAL_GAS_RAW)} + length(printf('%.2f', ReportedValue))
                   + 4 + 1 + 8)
        FROM actual JOIN dim ON actual.Country = dim.name
    """).fetchone()[0]
    return {
        "match": missing == 0 and extra == 0 and n_expected == n_actual,
        "rows_expected": n_expected,
        "rows_actual": n_actual,
        "missing": missing,
        "extra": extra,
        "rows_by_scenario": by_scenario,
        "live_raw_bytes": int(raw_bytes or 0),
    }


def main() -> None:
    import duckdb

    with open(sys.argv[1]) as f:
        req = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    try:
        result = check_queries(con, req) if req["kind"] == "queries" else check_ingest(con, req)
    finally:
        con.close()
    with open(sys.argv[2], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
