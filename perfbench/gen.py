"""Seeded input generators for the benchmark.

Two input families, both pure functions of ``(seed, size)`` so the same
seed gives byte-identical files:

* ``write_warehouse`` — the TPC-H-like warehouse plus the ``events``,
  ``documents`` and ``embeddings`` tables the registry queries read, in
  the shapes and value distributions of the ``sf*`` test directories
  (FIXTURES.md §3): uniform random keys, 5 % near-duplicate documents
  (a copy of another document's text with `` dup`` appended), unit
  64-dim float embeddings.
* ``write_etl_csvs`` — the three raw ETL inputs in the reference
  dialect of FIXTURES.md §1. Numeric cells that feed averages are
  integers or multiples of 1/8, so every sum is exact and the engine
  and DuckDB land on identical doubles whatever order they add in.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- warehouse --------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    days = rng.integers(0, span + 1, n)
    return _ts(start, days.astype(np.int64) * 86_400_000_000)


def warehouse_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten warehouse tables at scale ``sf`` (sf 0.1 ≈ 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(100, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_cust) / 100.0),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_supp) / 100.0),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(rng.choice(_P_ADJ, n_part), " "),
                    rng.choice(_P_NOUN, n_part),
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(rng.choice(_P_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array((9000 + keys % 1000) / 10.0),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_ord) / 100.0),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_line) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    secs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts("2024-01-01", secs),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [
        " ".join(_WORDS[w] for w in words[e - n : e]) for n, e in zip(lens, ends)
    ]
    dup_of = rng.integers(0, n_doc, n_doc)
    is_dup = rng.random(n_doc) < 0.05
    texts = [
        texts[int(dup_of[i])] + " dup" if is_dup[i] and dup_of[i] != i else texts[i]
        for i in range(n_doc)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(rng.choice(_LANGS, n_doc, p=_LANG_P)),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, _EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
        }
    )
    return t


def write_warehouse(out_dir: str, seed: int, sf: float) -> int:
    """Write ``<table>.parquet`` files; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in warehouse_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# -- reference-dialect ETL CSVs ---------------------------------------------

# Station (upper case, as in the raw file) -> whether the pipeline maps it.
MAPPED_STATIONS = [
    ("ALEXANDRIA", "Alexandria"),
    ("ROZELLE", "Rozelle"),
    ("EARLWOOD", "Earlwood"),
    ("COOK AND PHILLIP", "Sydney"),
    ("RANDWICK", "Randwick"),
    ("MACQUARIE PARK", "Macquarie Park"),
    ("PARRAMATTA NORTH", "Parramatta"),
]
_UNMAPPED_STATIONS = ["CHULLORA", "LIVERPOOL", "PROSPECT", "ST MARYS", "BRINGELLY"]
_VEHICLE_TYPES = [
    "Large SUV", "Medium SUV", "Small SUV", "Light Car", "Small Car",
    "Medium Car", "Large Car", "People Mover", "Ute (2WD)", "Ute (4WD)",
]
_MAKES = ["Tesla Model 3", "BYD Atto 3", "Kia EV6", "Hyundai Ioniq 5",
          "Mitsubishi Outlander", "Volvo XC40", "Nissan Leaf", "MG ZS EV"]
_SYL = ["ash", "bel", "car", "dun", "el", "for", "glen", "hill", "kings",
        "lan", "mar", "nor", "oak", "park", "ros", "st", "wood", "vale"]
_EV_HEADER = (
    "VEHICLE TYPE;FUEL TYPE;MODEL;VARIANT DETAILS;LISTED PRICE ($AUD);"
    "FAST CHARGE TIME;ANCAP RATING;RANGE (km);"
    "ENERGY CONSUMPTION (kWh/100km);;SUBURB"
)
_FISCAL = [f"F{y}_{(y + 1) % 100:02d}" for y in range(2010, 2023)]


def suburb_names(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct suburb names: the seven pollution-mapped ones, a
    space-less variant of one of them, then generated two-part names."""
    names = [s for _, s in MAPPED_STATIONS] + ["MacquariePark"]
    seen = set(names)
    while len(names) < n:
        a, b = rng.choice(_SYL, 2)
        name = f"{a.title()}{b} {rng.choice(['North', 'South', 'Heights', 'Park', 'Bay', 'Vale'])}"
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names[:n]


def _dotted(rng: np.random.Generator) -> str:
    """A pseudo-number with thousands dots ('8.379.343.471')."""
    return ".".join(str(int(x)) for x in [rng.integers(1, 10), *rng.integers(100, 1000, 3)])


def write_etl_csvs(out_dir: str, seed: int, n_ev: int, n_suburbs: int) -> int:
    """Write Ev_Population.csv, Electricity_Consumption.csv and
    Pollution_Index.csv; returns the bytes written."""
    rng = np.random.default_rng(seed + 1_000_003)
    os.makedirs(out_dir, exist_ok=True)
    subs = suburb_names(rng, n_suburbs)

    sub_idx = rng.integers(0, n_suburbs, n_ev)
    fuel = rng.choice(["BEV", "PHEV", "HFCEV"], n_ev, p=[0.6, 0.37, 0.03])
    vtype = rng.integers(0, len(_VEHICLE_TYPES), n_ev)
    make = rng.integers(0, len(_MAKES), n_ev)
    year = rng.integers(2015, 2025, n_ev)
    price = rng.integers(30_000, 150_000, n_ev)
    price_kind = rng.random(n_ev)
    rng_km = rng.integers(50, 700, n_ev)
    range_kind = rng.random(n_ev)
    pad = rng.random(n_ev)
    lines = [_EV_HEADER]
    for i in range(n_ev):
        model = _MAKES[make[i]] + (f" {year[i]}" if price_kind[i] < 0.9 else "")
        p = price_kind[i]
        lp = f"{price[i]}*" if p < 0.1 else "" if p < 0.15 else "POA" if p < 0.17 else str(price[i])
        r = range_kind[i]
        rk = "" if r < 0.05 else "TBC" if r < 0.07 else str(rng_km[i])
        vt = _VEHICLE_TYPES[vtype[i]]
        sub = subs[sub_idx[i]]
        if pad[i] < 0.05:
            vt, sub = f" {vt} ", f" {sub}  "
        ancap = "Unrated" if make[i] % 3 == 0 else f"5 star, {2018 + make[i]}"
        lines.append(
            f"{vt};{fuel[i]};{model};{'Long Range' if i % 2 else 'Standard'};{lp};"
            f"85 mins (5%-80% charge, 50kW charger);{ancap};{rk};{15 + make[i] % 5}.5;;{sub}"
        )
    total = _write(os.path.join(out_dir, "Ev_Population.csv"), lines)

    # electricity: ~60 % of the suburbs, plus a few that only appear here
    elec_subs = [s for s in subs if rng.random() < 0.6] + [f"Outer {k}" for k in range(3)]
    lines = ["\ufeffFID;Name;" + ";".join(_FISCAL) + ";Shape__Area;Shape__Length"]
    for fid, s in enumerate(elec_subs, 1):
        name = f"{s} + {rng.choice(subs)}" if rng.random() < 0.2 else s
        c22, c23 = rng.integers(1_000_000, 90_000_000, 2)
        roll = rng.random()
        if roll < 0.03:
            c22 = 0
        elif roll < 0.06:
            c23 = 0
        old = [_dotted(rng) for _ in _FISCAL[:-2]]
        lines.append(
            f"{fid};{name};" + ";".join(old) + f";{c22}.5;{c23}.25;{_dotted(rng)};{_dotted(rng)}"
        )
    total += _write(os.path.join(out_dir, "Electricity_Consumption.csv"), lines)

    # pollution: three header rows, wide station matrix, day-first dates
    stations = [s for s, _ in MAPPED_STATIONS] + _UNMAPPED_STATIONS
    cols = []
    for s in stations:
        cols.append(f"{s} NO2 annual average [pphm]")
        cols.append(f"{s} OZONE hourly average [pphm]")
    lines = [
        "Air quality data, NO2 annual average and ozone, Sydney",
        "Site," + ",".join(s for s in stations for _ in range(2)),
        "Date," + ",".join(cols),
    ]
    day = dt.date(2021, 12, 1)
    while day <= dt.date(2023, 12, 31):
        vals = rng.integers(-1, 25, len(cols)) / 8.0
        blank = rng.random(len(cols)) < 0.1
        cells = ["" if b else repr(float(v)) for v, b in zip(vals, blank)]
        lines.append(f"{day.day}/{day.month}/{day.year}," + ",".join(cells))
        day += dt.timedelta(days=1)
    total += _write(os.path.join(out_dir, "Pollution_Index.csv"), lines)
    return total


def _write(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


if __name__ == "__main__":
    import sys

    work, seed, sf, n_ev, n_sub = sys.argv[1:6]
    write_warehouse(os.path.join(work, "warehouse"), int(seed), float(sf))
    write_etl_csvs(os.path.join(work, "etl_csv"), int(seed), int(n_ev), int(n_sub))
