"""Seeded bronze AQS feed for the ``medallion_etl`` workload.

:func:`write_aqs_batches` lands a daily AQS feed in the 31-column
``schemas.AQS_DAILY`` layout, one parquet file per weekly batch, as a
pure function of ``(seed, sizes)``. It carries the edge cases
``tests/test_medallion_aqs.py`` pins: trailing whitespace in
``pollutant_standard``, ``validity_indicator = 'N'``, null ``aqi``,
duplicate natural keys, null ``cbsa_code``/``method_code``, an unknown
standard, plus rows re-sent from the previous week.

Only numpy and pyarrow are used: generating inputs never starts the
engine under test. :data:`AQS_ARROW` spells the bronze schema out in
arrow types; the runner checks it against ``schemas.AQS_DAILY`` once
Spark has read the files back.

The query workloads need no generator: they read the committed copy of
the sf0.01 test tables under ``perfbench/data``.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: parameter code -> (parameter name, its valid standard, unit); silver
#: keeps exactly these six standards
AQS_PARAMETERS = {
    88101: ("PM2.5 - Local Conditions", "PM25 24-hour 2024", "Micrograms/cubic meter (LC)"),
    44201: ("Ozone", "Ozone 8-hour 2015", "Parts per million"),
    42602: ("Nitrogen dioxide (NO2)", "NO2 1-hour 2010", "Parts per billion"),
    42101: ("Carbon monoxide", "CO 8-hour 1971", "Parts per million"),
    42401: ("Sulfur dioxide", "SO2 1-hour 2010", "Parts per billion"),
    81102: ("PM10 Total 0-10um STP", "PM10 24-hour 2006", "Micrograms/cubic meter (25 C)"),
}
UNKNOWN_STANDARD = "Lead 3-month 2009"
FIRST_WEEK = datetime.date(2024, 1, 4)

_S, _I, _D, _T = pa.string(), pa.int32(), pa.float64(), pa.date32()
#: ``schemas.AQS_DAILY`` in arrow types, field for field
AQS_ARROW = pa.schema(
    [
        ("state_code", _S), ("county_code", _S), ("site_number", _S),
        ("parameter_code", _I), ("poc", _I), ("latitude", _D),
        ("longitude", _D), ("datum", _S), ("parameter", _S),
        ("sample_duration", _S), ("pollutant_standard", _S),
        ("date_local", _T), ("units_of_measure", _S), ("event_type", _S),
        ("observation_count", _I), ("observation_percent", _D),
        ("validity_indicator", _S), ("arithmetic_mean", _D),
        ("first_max_value", _D), ("first_max_hour", _I), ("aqi", _I),
        ("method_code", _I), ("method", _S), ("local_site_name", _S),
        ("site_address", _S), ("state", _S), ("county", _S), ("city", _S),
        ("cbsa_code", _S), ("cbsa", _S), ("date_of_last_change", _T),
    ]
)


def _aqs_sites(rng, n_sites: int) -> dict[str, np.ndarray]:
    state = rng.integers(1, 57, n_sites)
    county = rng.integers(1, 40, n_sites)
    return {
        "state_code": np.array([f"{s:02d}" for s in state], dtype=object),
        "county_code": np.array([f"{c:03d}" for c in county], dtype=object),
        "site_number": np.array([f"{i:04d}" for i in range(n_sites)], dtype=object),
        "latitude": np.round(rng.uniform(25.0, 49.0, n_sites), 4),
        "longitude": np.round(rng.uniform(-124.0, -67.0, n_sites), 4),
        "state": np.array([f"State {s:02d}" for s in state], dtype=object),
        "county": np.array([f"County {s:02d}-{c:03d}" for s, c in zip(state, county)], dtype=object),
        "city": np.array([f"City {i % 97}" for i in range(n_sites)], dtype=object),
        # every eleventh site has no CBSA (silver_cbsa drops it)
        "cbsa_code": np.array(
            [None if i % 11 == 0 else f"{10000 + i % 50 * 20}" for i in range(n_sites)],
            dtype=object,
        ),
    }


def _aqs_week(rng, sites, week: int, n_rows: int) -> dict[str, np.ndarray]:
    """One week of bronze rows. ``aqi`` is a function of the natural key,
    so every copy of a key carries the same ``aqi`` and the warehouse's
    ``sum(aqi)`` does not depend on which duplicate survives dedup."""
    codes = np.array(list(AQS_PARAMETERS), dtype=np.int32)
    site = rng.integers(0, len(sites["site_number"]), n_rows)
    code = codes[rng.integers(0, len(codes), n_rows)]
    day = rng.integers(0, 7, n_rows)
    date = np.datetime64(FIRST_WEEK) + (7 * week + day).astype("timedelta64[D]")
    standard = np.array([AQS_PARAMETERS[c][1] for c in code], dtype=object)
    # a key-derived aqi in 0..500 that crosses every category bucket
    aqi = ((site * 7919 + code.astype(np.int64) * 31 + (week * 7 + day) * 131) % 501).astype(object)
    aqi[rng.random(n_rows) < 0.02] = None
    pad = rng.random(n_rows) < 0.05
    standard[pad] = standard[pad] + "   "
    standard[rng.random(n_rows) < 0.03] = UNKNOWN_STANDARD
    method = rng.integers(100, 120, n_rows).astype(object)
    method[rng.random(n_rows) < 0.03] = None
    mean = np.round(rng.gamma(2.0, 8.0, n_rows), 3)
    cols = {k: v[site] for k, v in sites.items()}
    cols.update(
        {
            "parameter_code": code,
            "poc": rng.integers(1, 4, n_rows).astype(np.int32),
            "datum": np.where(rng.random(n_rows) < 0.8, "WGS84", "NAD83").astype(object),
            "parameter": np.array([AQS_PARAMETERS[c][0] for c in code], dtype=object),
            "sample_duration": np.where(code == 44201, "8-HR RUN AVG BEGIN HOUR", "24 HOUR").astype(object),
            "pollutant_standard": standard,
            "date_local": date,
            "units_of_measure": np.array([AQS_PARAMETERS[c][2] for c in code], dtype=object),
            "event_type": np.array(["None", "Included", "Excluded"], dtype=object)[
                rng.choice(3, n_rows, p=[0.9, 0.05, 0.05])
            ],
            "observation_count": rng.integers(1, 25, n_rows).astype(np.int32),
            "observation_percent": np.round(rng.uniform(0.0, 100.0, n_rows), 1),
            "validity_indicator": np.where(rng.random(n_rows) < 0.04, "N", "Y").astype(object),
            "arithmetic_mean": mean,
            "first_max_value": np.round(mean + rng.gamma(2.0, 4.0, n_rows), 3),
            "first_max_hour": rng.integers(0, 24, n_rows).astype(np.int32),
            "aqi": aqi,
            "method_code": method,
            "method": np.array([None if m is None else f"Method {m}" for m in method], dtype=object),
            "local_site_name": np.array([f"Site {s}" for s in site], dtype=object),
            "site_address": np.array([f"{s} Main St" for s in site], dtype=object),
            "cbsa": np.array([None if c is None else f"Metro {c}" for c in sites["cbsa_code"][site]], dtype=object),
            "date_of_last_change": date + np.timedelta64(30, "D"),
        }
    )
    # duplicate natural keys: 4% of rows re-emitted with another poc/value
    dup = rng.choice(n_rows, n_rows // 25, replace=False)
    for k, v in cols.items():
        cols[k] = np.concatenate([v, v[dup]])
    n_dup = len(dup)
    cols["poc"][-n_dup:] = rng.integers(4, 7, n_dup).astype(np.int32)
    cols["arithmetic_mean"][-n_dup:] = np.round(rng.gamma(2.0, 8.0, n_dup), 3)
    return cols


def _aqs_table(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = [
        pa.array(cols[f.name], type=f.type, from_pandas=True) for f in AQS_ARROW
    ]
    return pa.Table.from_arrays(arrays, schema=AQS_ARROW)


def write_aqs_batches(
    out_dir: str, seed: int, n_weeks: int, rows_per_week: int, n_sites: int
) -> tuple[list[str], int]:
    """Land *n_weeks* weekly bronze files under *out_dir*. From the
    second week on, 5% of the previous week's rows are re-sent
    unchanged (late re-deliveries the warehouse MERGE must not insert
    twice). Returns the file paths and the bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sites = _aqs_sites(rng, n_sites)
    paths, total, prev = [], 0, None
    for week in range(n_weeks):
        cols = _aqs_week(rng, sites, week, rows_per_week)
        if prev is not None:
            resend = rng.choice(len(prev["poc"]), len(prev["poc"]) // 20, replace=False)
            cols = {k: np.concatenate([v, prev[k][resend]]) for k, v in cols.items()}
        prev = cols
        path = f"{out_dir}/week{week:02d}.parquet"
        pq.write_table(_aqs_table(cols), path)
        total += os.path.getsize(path)
        paths.append(path)
    return paths, total
