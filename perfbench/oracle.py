"""Correctness checks run once per benchmark run, outside the timed pass.

* ``expected_star`` derives the whole star schema from the raw CSVs in
  DuckDB, written from the reference semantics (FIXTURES.md §1-2), not
  from the engine's code. ``check_star`` compares it with the star the
  engine wrote.
* ``check_registry`` compares a registry query's Spark result with its
  DuckDB oracle through ``tools/parity_sweep``'s ``retarget`` /
  ``pdf_rows`` / ``norm`` / ``eq``, the hash-faithful comparison that
  module documents.
* ``check_sql`` runs a dashboard SQL text in DuckDB over the written
  star parquet and compares it the same way.
"""

from __future__ import annotations

import math
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb

STAR_TABLES = (
    "dim_time",
    "dim_suburb",
    "dim_vehicle_type",
    "dim_fuel_type",
    "fact_ev_impact",
    "fact_energy_pollution",
)
WAREHOUSE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# (station as written in the raw file, suburb it stands for)
_STATIONS = {
    "ALEXANDRIA": "Alexandria",
    "ROZELLE": "Rozelle",
    "EARLWOOD": "Earlwood",
    "COOK AND PHILLIP": "Sydney",
    "RANDWICK": "Randwick",
    "MACQUARIE PARK": "Macquarie Park",
    "PARRAMATTA NORTH": "Parramatta",
}


def parity_module(root: str):
    """``tools/parity_sweep`` of the checkout under test."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import parity_sweep

    return parity_sweep


def _csv(path: str, names: list[str], delim: str, skip: int) -> str:
    cols = ", ".join(f"'{n}': 'VARCHAR'" for n in names)
    return (
        f"read_csv('{path}', delim='{delim}', header=false, skip={skip}, "
        f"columns={{{cols}}}, quote='\"', auto_detect=false)"
    )


def _header(path: str, line_no: int, delim: str) -> list[str]:
    with open(path, encoding="utf-8-sig") as f:
        for i, line in enumerate(f):
            if i == line_no:
                return line.rstrip("\n").split(delim)
    raise ValueError(f"{path} has no line {line_no}")


def expected_star(con: duckdb.DuckDBPyConnection, csv_dir: str) -> dict[str, list[tuple]]:
    """Rows of every star table, derived in DuckDB from the raw CSVs."""
    ev_cols = [f"c{i}" for i in range(len(_header(f"{csv_dir}/Ev_Population.csv", 0, ";")))]
    el_cols = [f"c{i}" for i in range(len(_header(f"{csv_dir}/Electricity_Consumption.csv", 0, ";")))]
    poll_hdr = [h.strip() for h in _header(f"{csv_dir}/Pollution_Index.csv", 2, ",")]
    poll_cols = [f"c{i}" for i in range(len(poll_hdr))]
    # EV: c0 vehicle type, c1 fuel, c4 price, c7 range, last = suburb
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW ev_raw AS SELECT * FROM "
        f"{_csv(f'{csv_dir}/Ev_Population.csv', ev_cols, ';', 1)}"
    )
    sub_col = ev_cols[-1]
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW ev AS
        SELECT trim({sub_col}) AS suburb,
               count(*)::DOUBLE AS total,
               count(*) FILTER (WHERE c1 = 'BEV')::DOUBLE AS bev,
               count(*) FILTER (WHERE c1 = 'PHEV')::DOUBLE AS phev,
               coalesce(avg(TRY_CAST(c7 AS DOUBLE)), 0) AS avg_range,
               coalesce(avg(TRY_CAST(trim(replace(c4, '*', '')) AS DOUBLE)), 0) AS avg_price
        FROM ev_raw WHERE c1 IN ('BEV', 'PHEV') GROUP BY 1"""
    )
    # electricity: Name is c1; the last two fiscal years precede the shape columns
    c22, c23 = el_cols[-4], el_cols[-3]
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW elec AS
        SELECT trim(split_part(c1, '+', 1)) AS suburb,
               TRY_CAST({c22} AS DOUBLE) AS c22, TRY_CAST({c23} AS DOUBLE) AS c23
        FROM {_csv(f'{csv_dir}/Electricity_Consumption.csv', el_cols, ';', 1)}"""
    )
    arms = []
    for i, h in enumerate(poll_hdr):
        station = h.split(" NO2 annual average")[0] if " NO2 annual average" in h else None
        if station in _STATIONS:
            arms.append(
                f"SELECT c0 AS d, '{_STATIONS[station]}' AS suburb, "
                f"TRY_CAST(c{i} AS DOUBLE) AS v FROM poll_raw"
            )
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW poll_raw AS SELECT * FROM "
        f"{_csv(f'{csv_dir}/Pollution_Index.csv', poll_cols, ',', 3)}"
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW poll AS
        WITH long AS ({' UNION ALL '.join(arms)}),
        dated AS (SELECT suburb, v, year(strptime(d, '%d/%m/%Y')) AS y FROM long)
        SELECT suburb,
               avg(v) FILTER (WHERE y = 2022) AS n22,
               avg(v) FILTER (WHERE y = 2023) AS n23
        FROM dated WHERE y IN (2022, 2023) GROUP BY 1"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP VIEW merged AS
        WITH keys AS (SELECT suburb FROM ev UNION SELECT suburb FROM elec
                      UNION SELECT suburb FROM poll),
        m AS (
          SELECT k.suburb,
                 coalesce(ev.total, 0) AS total, coalesce(ev.bev, 0) AS bev,
                 coalesce(ev.phev, 0) AS phev,
                 coalesce(ev.avg_range, 0) AS avg_range,
                 coalesce(ev.avg_price, 0) AS avg_price,
                 coalesce(elec.c22, 0) AS c22, coalesce(elec.c23, 0) AS c23,
                 coalesce(CASE WHEN elec.c22 <> 0
                               THEN (elec.c23 - elec.c22) / elec.c22 * 100 END, 0)
                   AS c_pct,
                 coalesce(poll.n22, 0) AS n22, coalesce(poll.n23, 0) AS n23,
                 coalesce(poll.n23 - poll.n22, 0) AS n_change,
                 coalesce(CASE WHEN poll.n22 <> 0
                               THEN (poll.n23 - poll.n22) / poll.n22 * 100 END, 0)
                   AS n_pct
          FROM keys k LEFT JOIN ev USING (suburb) LEFT JOIN elec USING (suburb)
          LEFT JOIN poll USING (suburb))
        SELECT *, row_number() OVER (ORDER BY suburb) AS id,
               CASE WHEN c23 <> 0 THEN total / (c23 / 1e6) ELSE 0 END AS ev_per_energy,
               n23 / CASE WHEN total = 0 THEN 1 ELSE total END AS no2_per_ev,
               total * (1 - n_pct / 100) AS adoption
        FROM m"""
    )
    n = con.execute("SELECT count(*) FROM merged").fetchone()[0]

    def guarded(num: str, den: str) -> str:
        return f"CASE WHEN {den} <= 0 THEN 0 ELSE {num} / {den} END"

    q = {
        "dim_time": "SELECT 2022, 2022, false UNION ALL SELECT 2023, 2023, true",
        "dim_suburb": "SELECT id, suburb FROM merged",
        "dim_vehicle_type": """SELECT row_number() OVER (ORDER BY v), v
            FROM (SELECT DISTINCT trim(c0) AS v FROM ev_raw)""",
        "dim_fuel_type": """SELECT 1, 'BEV', 'Battery Electric Vehicle' UNION ALL
            SELECT 2, 'PHEV', 'Plug-in Hybrid Electric Vehicle'""",
        "fact_ev_impact": """SELECT id, id, 2023, total, bev, phev, avg_range,
            avg_price, adoption FROM merged""",
        "fact_energy_pollution": f"""
            SELECT id, id, 2023, c23, c_pct, n23, n_change, n_pct,
                   ev_per_energy, no2_per_ev FROM merged
            UNION ALL
            SELECT id + {n}, id, 2022, c22, 0, n22, 0, 0,
                   {guarded('total', '(c22 / 1e6)')}, {guarded('n22', 'total')}
            FROM merged""",
    }
    return {t: [tuple(r) for r in con.execute(sql).fetchall()] for t, sql in q.items()}


# Column names and types of each star table as the engine writes them.
_D = "DOUBLE"
STAR_COLUMNS = {
    "dim_time": {"id_time": "BIGINT", "YEAR": "BIGINT", "IS_CURRENT_YEAR": "BOOLEAN"},
    "dim_suburb": {"id_suburb": "BIGINT", "SUBURB_NAME": "VARCHAR"},
    "dim_vehicle_type": {"id_vehicle_type": "BIGINT", "VEHICLE_TYPE": "VARCHAR"},
    "dim_fuel_type": {
        "id_fuel_type": "BIGINT", "FUEL_TYPE": "VARCHAR", "FUEL_DESCRIPTION": "VARCHAR",
    },
    "fact_ev_impact": {
        "fact_ev_impact_id": "BIGINT", "id_suburb": "BIGINT", "YEAR": "INTEGER",
        "TOTAL_EVS": _D, "BEV_COUNT": _D, "PHEV_COUNT": _D, "AVG_RANGE_KM": _D,
        "AVG_PRICE": _D, "EV_ADOPTION_SCORE": _D,
    },
    "fact_energy_pollution": {
        "fact_energy_pollution_id": "BIGINT", "id_suburb": "BIGINT", "YEAR": "INTEGER",
        "ENERGY_CONSUMPTION": _D, "ENERGY_CHANGE_PCT": _D, "NO2_LEVEL": _D,
        "NO2_CHANGE": _D, "NO2_CHANGE_PCT": _D, "EV_PER_ENERGY_UNIT": _D, "NO2_PER_EV": _D,
    },
}


def write_star(con: duckdb.DuckDBPyConnection, star: dict[str, list[tuple]], out: str) -> None:
    """Write star rows as parquet in the engine's layout (facts by YEAR)."""
    for t, rows in star.items():
        cols = STAR_COLUMNS[t]
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE {t}_out "
            f"({', '.join(f'{c} {ty}' for c, ty in cols.items())})"
        )
        con.executemany(f"INSERT INTO {t}_out VALUES ({', '.join('?' * len(cols))})", rows)
        os.makedirs(f"{out}/{t}", exist_ok=True)
        if t.startswith("fact_"):
            con.execute(f"COPY {t}_out TO '{out}/{t}' (FORMAT parquet, PARTITION_BY (YEAR))")
        else:
            con.execute(f"COPY {t}_out TO '{out}/{t}/part-0.parquet' (FORMAT parquet)")


def star_views(con: duckdb.DuckDBPyConnection, star_dir: str) -> None:
    """Register the written star parquet under the dashboard's view names."""
    for t in STAR_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{star_dir}/{t}/**/*.parquet', hive_partitioning=true)"
        )


def _dp6(x: float) -> Decimal | float:
    """``x`` rounded the way Spark's ``round(x, 6)`` rounds a double:
    HALF_UP on its shortest decimal form."""
    if not math.isfinite(x):
        return x
    return Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        # the engine rounds fact doubles to 6 dp; the oracle does not, so
        # both sides are compared at 6 dp (a tolerance of 5e-7 misjudges
        # exact ties such as 1.4234375)
        return _dp6(float(a)) == _dp6(float(b))
    return a == b


def check_star(
    con: duckdb.DuckDBPyConnection, star_dir: str, expected: dict[str, list[tuple]]
) -> list[str]:
    """Mismatch descriptions between the written star and ``expected``."""
    star_views(con, star_dir)
    problems = []
    for t, want in expected.items():
        cols = ", ".join(f'"{c}"' for c in STAR_COLUMNS[t])
        got = con.execute(f"SELECT {cols} FROM {t} ORDER BY 1").fetchall()
        want = sorted(want, key=lambda r: r[0])
        if len(got) != len(want):
            problems.append(f"{t}: {len(got)} rows, expected {len(want)}")
            continue
        for g, w in zip(got, want):
            if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
                problems.append(f"{t}: row {g} != expected {w}")
                break
    null_ids = con.execute(
        "SELECT count(*) FROM fact_ev_impact WHERE id_suburb IS NULL"
    ).fetchone()[0]
    if null_ids:
        problems.append(f"fact_ev_impact: {null_ids} null id_suburb")
    return problems


def _rows_equal(ps, s_cols, s_rows, d_cols, d_rows) -> bool:
    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
        return False
    ns, nd = ps.norm(s_rows, s_cols), ps.norm(d_rows, d_cols)
    return all(all(ps.eq(a, b) for a, b in zip(rs, rd)) for rs, rd in zip(ns, nd))


def warehouse_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in WAREHOUSE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def check_registry(ps, con, oracle: str, pdf) -> bool:
    """Spark result ``pdf`` (pandas) vs the query's DuckDB oracle."""
    res = con.execute(ps.retarget(oracle))
    d_cols = [d[0] for d in res.description]
    return _rows_equal(
        ps, list(pdf.columns), ps.pdf_rows(pdf), d_cols, ps.pdf_rows(res.fetchdf())
    )


def check_sql(ps, con, sql: str, pdf) -> bool:
    """Spark result of a dashboard SQL text vs the same text in DuckDB
    over the written star parquet (``star_views`` registered on ``con``)."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    return _rows_equal(
        ps, list(pdf.columns), ps.pdf_rows(pdf), d_cols, ps.pdf_rows(res.fetchdf())
    )
