"""Seeded input generators for the benchmark.

Everything here is pure numpy/pandas/pyarrow - no Spark - so inputs are
byte-identical for a given seed and their ground truth is known before
the engine runs:

* ``wide_frame`` / ``write_wide_csv``: the 66-column F1 wide CSV that
  ``etl.run_etl`` consumes, with a tunable duplicate-key rate, ``\\N``
  share, malformed date/time share and per-driver lap skew. Dates come
  from a real calendar (``sources.fixture._base_row`` is NOT scaled: its
  ``202x-0{race+1}-..`` dates turn malformed from race 9 on).
* ``star_tables``: star-schema tables (race, results, driver, team,
  pit_stop) written straight to parquet for the read and merge
  workloads, with integer-valued points and quarter-second pit
  durations so every sum is exact on both engines.
* ``merge_batch``: one ``results`` change batch (updates to existing
  keys plus one new race's inserts).
* ``relational_tables``: the ten TPC-H-shaped tables the catalog
  entries read (same column names, types and value domains as the
  repository's parity testdata, at a configurable size).
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from formula1_etl_analytics_project_spark.schemas import (
    STAR_SCHEMAS,
    TESTDATA_SCHEMAS,
    WIDE_F1_SCHEMA,
)

NULL = "\\N"
WIDE_COLUMNS = [f.name for f in WIDE_F1_SCHEMA.fields]
POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
STATUSES = ["Finished", "+1 Lap", "Engine", "Accident", "Gearbox", "Collision"]

# Columns the generator may blank with the '\N' sentinel / corrupt.
# Integer and double columns only ever get '\N' (a malformed number
# would be a PERMISSIVE-mode parse difference, not an engine result).
_NULLABLE = [
    "number", "code", "fp1_date", "fp1_time", "fp2_date", "fp2_time",
    "fp3_date", "fp3_time", "quali_date", "quali_time", "position",
    "sprint_date", "sprint_time", "duration", "time", "time_races",
    "rank", "fastestLap", "fastestLapTime", "fastestLapSpeed",
    "driverStandingsId", "constructorStandingsId",
]
_MALFORMED = {
    "date": "n/a",
    "dob": "not-a-date",
    "fp1_time": "bad-time",
    "quali_date": "31/12/2019",
    "time_races": "DNF",
    "fastestLapTime": "garbage",
    "duration": "slow",
}


def _spark_to_arrow(schema) -> pa.Schema:
    m = {
        "IntegerType()": pa.int32(),
        "LongType()": pa.int64(),
        "DoubleType()": pa.float64(),
        "StringType()": pa.string(),
        "DateType()": pa.date32(),
        "FloatType()": pa.float32(),
        "TimestampType()": pa.timestamp("us"),
    }
    fields = []
    for f in schema.fields:
        t = repr(f.dataType)
        if t.startswith("ArrayType"):
            fields.append(pa.field(f.name, pa.list_(pa.float32())))
        else:
            fields.append(pa.field(f.name, m[t]))
    return pa.schema(fields)


def write_table(frame: pd.DataFrame, schema, path: str) -> int:
    """Write ``frame`` as one parquet file with the Spark schema's
    physical types; returns the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(
        frame, schema=_spark_to_arrow(schema), preserve_index=False
    )
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# Wide F1 CSV
# ---------------------------------------------------------------------------


def wide_frame(
    seed: int,
    n_races: int = 40,
    n_drivers: int = 20,
    laps_per: int = 12,
    dup_rate: float = 0.05,
    null_rate: float = 0.04,
    bad_rate: float = 0.03,
    skew: float = 1.0,
) -> pd.DataFrame:
    """One row per (race, driver, lap) plus duplicates, all cells as
    strings (``\\N`` for null), in file order. ``skew`` is the Zipf
    exponent of laps per driver (driver 1 completes the most laps, so
    its keys are the hottest)."""
    rng = np.random.default_rng(seed)
    n_teams = max(2, n_drivers // 2)
    weights = 1.0 / np.arange(1, n_drivers + 1) ** skew
    laps_by_driver = np.maximum(
        1, np.round(laps_per * n_drivers * weights / weights.sum())
    ).astype(int)
    base_day = np.datetime64("2000-03-05")
    dob_bad = rng.random(n_drivers) < bad_rate * 4
    rows = []
    for race in range(1, n_races + 1):
        day = base_day + np.timedelta64(int(race * 14 + rng.integers(0, 3)), "D")
        date = str(day)
        circuit = int(race % 12) + 1
        finish = rng.permutation(n_drivers)
        sprint = race % 3 == 0
        for d in range(n_drivers):
            driver = d + 1
            team = d % n_teams + 1
            place = int(finish[d]) + 1
            pts = float(POINTS[place - 1]) if place <= len(POINTS) else 0.0
            status_id = 1 if place <= n_drivers - 3 else int(rng.integers(2, len(STATUSES) + 1))
            gap = rng.uniform(1.0, 90.0)
            fl_sec = 20 + rng.integers(0, 40)
            base = {
                "raceId": str(race),
                "date": date,
                "round": str((race - 1) % 20 + 1),
                "circuitId": str(circuit),
                "circuitRef": f"circuit_{circuit}",
                "name_x": f"Grand Prix {circuit}",
                "location": f"City {circuit}",
                "country": f"Country {circuit % 7}",
                "lat": f"{40 + circuit * 0.5:.4f}",
                "lng": f"{2 + circuit * 0.75:.4f}",
                "url_x": f"http://circuit/{circuit}",
                "statusId": str(status_id),
                "status": STATUSES[status_id - 1],
                "driverId": str(driver),
                "forename": f"Fore{driver}",
                "surname": "O'Neil" if driver == 2 else f"Sur{driver}",
                "dob": "not-a-date" if dob_bad[d] else f"19{70 + d % 25}-0{1 + d % 9}-1{d % 9}",
                "nationality": f"Nat{driver % 9}",
                "url": f"http://driver/{driver}",
                "number": str(driver + 1),
                "constructorRef": f"team_{team}",
                "driverRef": f"driver_{driver}",
                "code": f"D{driver:02d}",
                "constructorId": str(team),
                "name": f"Team {team}",
                "nationality_constructors": f"TNat{team % 5}",
                "url_constructors": f"http://team/{team}",
                "fp1_date": date,
                "fp1_time": "11:30:00",
                "fp2_date": date,
                "fp2_time": "15:00:00",
                "fp3_date": NULL if sprint else date,
                "fp3_time": NULL if sprint else "12:00:00",
                "quali_date": date,
                "quali_time": "14:00:00",
                "position": str(place),
                "sprint_date": date if sprint else NULL,
                "sprint_time": "'10:30:00'" if (sprint and d == 0) else ("10:30:00" if sprint else NULL),
                "driverStandingsId": str(race * 1000 + driver),
                "points_driverstandings": f"{pts * race:.1f}",
                "position_driverstandings": str(place),
                "wins": "1" if place == 1 else "0",
                "constructorStandingsId": str(race * 100 + team),
                "points_constructorstandings": f"{pts * race * 2:.1f}",
                "position_constructorstandings": str((place + 1) // 2),
                "wins_constructorstandings": "1" if place <= 2 else "0",
                "time": "1:31:05.123" if place == 1 else f"+{gap:.3f}",
                "time_races": "1:31:05.123" if place == 1 else f"+{gap:.3f}",
                "resultId": str(race * 1000 + driver),
                "positionOrder": str(place),
                "points": f"{pts:.1f}",
                "laps": str(int(laps_by_driver[d])),
                "grid": str((place + race) % n_drivers + 1),
                "rank": str(place),
                "fastestLap": str(int(rng.integers(30, 60))),
                "fastestLapTime": f"1:{fl_sec:02d}.{int(rng.integers(0, 1000)):03d}",
                "fastestLapSpeed": f"{200 + rng.uniform(0, 30):.3f}",
            }
            for lap in range(1, int(laps_by_driver[d]) + 1):
                row = dict(base)
                stop = (lap - 1) % 3 + 1
                row.update(
                    {
                        "stop": str(stop),
                        "lap_pitstops": str(lap),
                        "time_pitstops": f"13:{lap % 60:02d}:{d % 60:02d}",
                        "duration": f"{20 + stop * 0.25 + d * 0.5:.3f}",
                        "milliseconds_pitstops": str(20000 + stop * 250 + d * 500),
                        "lap": str(lap),
                        "time_laptimes": f"1:3{lap % 10}.{int(rng.integers(0, 1000)):03d}",
                        "position_laptimes": str(place),
                        "milliseconds_laptimes": str(int(90000 + rng.integers(0, 9999))),
                    }
                )
                rows.append(row)
    frame = pd.DataFrame(rows, columns=WIDE_COLUMNS)
    n = len(frame)
    # sentinel nulls and malformed values, column by column
    for col in _NULLABLE:
        mask = rng.random(n) < null_rate
        frame.loc[mask, col] = NULL
    for col, bad in _MALFORMED.items():
        mask = rng.random(n) < bad_rate
        frame.loc[mask, col] = bad
    # duplicate keys: half exact copies, half conflicting copies (a later
    # row with the same keys but different payload - keep-first must drop it)
    n_dup = int(n * dup_rate)
    src = np.sort(rng.choice(n, size=n_dup, replace=False))
    dups = frame.iloc[src].copy()
    conflicting = rng.random(n_dup) < 0.5
    dups.loc[conflicting, "surname"] = "ShouldLose"
    dups.loc[conflicting, "status"] = "ShouldLose"
    insert_at = src + rng.integers(1, max(2, n // 10), size=n_dup)
    order = np.concatenate([np.arange(n, dtype=float), insert_at + 0.5])
    frame = pd.concat([frame, dups], ignore_index=True)
    frame = frame.iloc[np.argsort(order, kind="stable")].reset_index(drop=True)
    return frame


def write_wide_csv(frame: pd.DataFrame, path: str) -> int:
    """Write the frame as the wide CSV (header + rows, no quoting - the
    generator never emits commas, double quotes or newlines). Returns
    the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_NONE, lineterminator="\n")
        w.writerow(WIDE_COLUMNS)
        w.writerows(frame[WIDE_COLUMNS].itertuples(index=False, name=None))
    return os.path.getsize(path)


def etl_truth(frame: pd.DataFrame) -> dict[str, int]:
    """Per-table row counts of the star ``run_etl`` must produce,
    restated in DuckDB by the catalog's own counts oracle
    (``catalog_etl._COUNTS_SQL``) over the generated frame."""
    import duckdb

    from formula1_etl_analytics_project_spark.plans import catalog_etl

    sql = catalog_etl._COUNTS_SQL.replace(
        catalog_etl._W.strip(), "w AS (SELECT * FROM wide_frame)"
    )
    if sql == catalog_etl._COUNTS_SQL:
        raise RuntimeError("could not rebind the counts oracle to the generated frame")
    wide_frame = frame.replace({NULL: None}).assign(_row_id=np.arange(len(frame)))  # noqa: F841
    con = duckdb.connect()
    try:
        return {name: int(n) for name, n in con.execute(sql).fetchall()}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Star tables + merge batches
# ---------------------------------------------------------------------------


def _results_for_race(rng, race: int, n_drivers: int, n_teams: int) -> pd.DataFrame:
    place = rng.permutation(n_drivers) + 1
    drivers = np.arange(1, n_drivers + 1)
    return pd.DataFrame(
        {
            "resultId": race * 1000 + drivers,
            "raceId": race,
            "driverId": drivers,
            "constructorId": (drivers - 1) % n_teams + 1,
            "position_order": place,
            "points": [float(POINTS[p - 1]) if p <= len(POINTS) else 0.0 for p in place],
            "laps": rng.integers(40, 70, n_drivers),
            "rank": place,
            "fastestLap": rng.integers(30, 60, n_drivers),
            "fastestLapTime": [
                f"00:01:{20 + int(s):02d}.{int(ms):06d}"
                for s, ms in zip(rng.integers(0, 40, n_drivers), rng.integers(0, 10**6, n_drivers))
            ],
            "fastestLapSpeed": np.round(rng.uniform(190, 230, n_drivers), 3),
            "statusId": rng.integers(1, len(STATUSES) + 1, n_drivers),
            "grid": rng.permutation(n_drivers) + 1,
        }
    )


def star_tables(
    seed: int, n_races: int = 60, n_drivers: int = 20, future_races: int = 0
) -> dict[str, pd.DataFrame]:
    """Star tables for ``n_races`` completed races. ``race`` also lists
    ``future_races`` upcoming races so merge batches can insert their
    results without touching the dimension."""
    rng = np.random.default_rng(seed)
    n_teams = max(2, n_drivers // 2)
    total = n_races + future_races
    race_ids = np.arange(1, total + 1)
    dates = np.datetime64("2010-03-07") + (race_ids * 14).astype("timedelta64[D]")
    race = pd.DataFrame(
        {
            "race_id": race_ids,
            "date": pd.to_datetime(dates).date,
            "round": (race_ids - 1) % 20 + 1,
            "locationId": race_ids % 12 + 1,
        }
    )
    results = pd.concat(
        [_results_for_race(rng, r, n_drivers, n_teams) for r in range(1, n_races + 1)],
        ignore_index=True,
    )
    drivers = np.arange(1, n_drivers + 1)
    driver = pd.DataFrame(
        {
            "driverId": drivers,
            "driverRef": [f"driver_{d}" for d in drivers],
            "constructorRef": [f"team_{(d - 1) % n_teams + 1}" for d in drivers],
            "number": [str(d + 1) for d in drivers],
            "code": [f"D{d:02d}" for d in drivers],
            "forename": [f"Fore{d}" for d in drivers],
            "surname": [f"Sur{d}" for d in drivers],
            "dob": pd.to_datetime([f"19{70 + d % 25}-0{1 + d % 9}-1{d % 9}" for d in drivers]).date,
            "nationality": [f"Nat{d % 9}" for d in drivers],
            "url_driver": [f"http://driver/{d}" for d in drivers],
            "age": [2026 - (1970 + d % 25) for d in drivers],
        }
    )
    teams = np.arange(1, n_teams + 1)
    team = pd.DataFrame(
        {
            "constructorId": teams,
            "name_team": [f"Team {t}" for t in teams],
            "constructorRef": [f"team_{t}" for t in teams],
            "nationality_constructors": [f"TNat{t % 5}" for t in teams],
            "url_constructors": [f"http://team/{t}" for t in teams],
        }
    )
    stops = results[["raceId", "driverId"]].loc[results.index.repeat(2)].reset_index(drop=True)
    stops["stop_number"] = np.tile([1, 2], len(results))
    pit_stop = pd.DataFrame(
        {
            "pitsId": np.arange(1, len(stops) + 1),
            "race_id": stops["raceId"],
            "driver_id": stops["driverId"],
            "stop_number": stops["stop_number"],
            "lap_pitstops": rng.integers(5, 60, len(stops)),
            "time_pitstops": [f"14:{m:02d}:{s:02d}" for m, s in zip(rng.integers(0, 60, len(stops)), rng.integers(0, 60, len(stops)))],
            # quarter seconds: binary-exact, so AVG is order-independent
            "duration": 19.0 + rng.integers(0, 40, len(stops)) * 0.25,
            "milliseconds_pitstops": rng.integers(19000, 29000, len(stops)),
        }
    )
    return {"race": race, "results": results, "driver": driver, "team": team, "pit_stop": pit_stop}


def write_star(tables: dict[str, pd.DataFrame], out_dir: str) -> dict[str, int]:
    return {
        name: write_table(df, STAR_SCHEMAS[name], f"{out_dir}/{name}/part-0.parquet")
        for name, df in tables.items()
    }


def merge_batch(
    seed: int,
    batch_no: int,
    current: pd.DataFrame,
    new_race: int,
    n_drivers: int,
    update_frac: float = 0.05,
) -> pd.DataFrame:
    """Change batch ``batch_no`` against the snapshot ``current``:
    ``update_frac`` of existing results get new finishing data, and the
    ``n_drivers`` results of race ``new_race`` are inserted. Key-unique."""
    rng = np.random.default_rng([seed, batch_no])
    n_upd = max(1, int(len(current) * update_frac))
    upd = current.iloc[np.sort(rng.choice(len(current), n_upd, replace=False))].copy()
    upd["laps"] = rng.integers(40, 70, n_upd)
    upd["statusId"] = rng.integers(1, len(STATUSES) + 1, n_upd)
    upd["points"] = rng.choice(POINTS, n_upd).astype(float)
    ins = _results_for_race(rng, new_race, n_drivers, max(2, n_drivers // 2))
    return pd.concat([upd, ins], ignore_index=True)


def apply_batch(current: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The merge's expected result (incoming rows win on resultId)."""
    kept = current[~current["resultId"].isin(batch["resultId"])]
    return pd.concat([kept, batch], ignore_index=True)


# ---------------------------------------------------------------------------
# Relational (TPC-H-shaped) tables for the catalog entries
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start), np.datetime64(end)
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def relational_tables(seed: int, n_customers: int = 500) -> dict[str, pd.DataFrame]:
    """The ten catalog tables, sized off ``n_customers`` with the
    parity testdata's ratios (10 orders per customer, 4 lines per
    order) and value domains (1995-2001 order dates, January-2024
    events, a 30-word document vocabulary with ~10% near-duplicates,
    64-d float embeddings in 10 labelled clusters)."""
    rng = np.random.default_rng([seed, 7])
    n_orders, n_lines = n_customers * 10, n_customers * 40
    n_parts, n_supp = max(50, n_customers * 4 // 3), max(10, n_customers // 15)
    n_events, n_docs, n_vecs = n_customers * 7, max(100, n_customers // 3), max(100, n_customers // 3)
    region = pd.DataFrame({"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": np.arange(25) % 5})
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_customers),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": rng.integers(0, 25, n_customers),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_customers),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_parts),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["small", "red", "big", "blue"], n_parts), rng.choice(["ring", "widget", "bolt", "gear"], n_parts))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_parts),
            "p_size": rng.integers(1, 51, n_parts),
            "p_retailprice": np.round(900 + np.arange(n_parts) * 0.1, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders),
            "o_custkey": rng.integers(0, n_customers, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    qty = rng.integers(1, 51, n_lines).astype(float)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_parts, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, n_customers // 10), n_events),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0, 100, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
        else:
            toks = list(rng.choice(_VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(toks))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))) / 8.0
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_relational(tables: dict[str, pd.DataFrame], out_dir: str) -> dict[str, int]:
    return {
        name: write_table(df, TESTDATA_SCHEMAS[name], f"{out_dir}/{name}.parquet")
        for name, df in tables.items()
    }
