"""Seeded input generators for the benchmark.

Two corpora, both written as plain files so the engine receives only
generated inputs:

- the CAMS-shaped solar corpus of FIXTURES.md F1/F2/F4: a station table,
  one raw 1-minute ``csv_expert`` file per (station, sky type) and one
  ground QC file per station;
- the ``events`` and ``embeddings`` tables of FIXTURES.md F6, shaped like
  the repository's test corpus (TESTDATA.md), for the registry query
  slices.

The same seed always gives byte-identical files: every random draw comes
from a ``numpy`` generator seeded from (seed, file identity), and every
number is written with a fixed format.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SKY_TYPES = ("clear", "observed_cloud")

EXPERT_COLS = [
    "Observation period", "TOA", "Clear sky GHI", "Clear sky BHI",
    "Clear sky DHI", "Clear sky BNI", "GHI", "BHI", "DHI", "BNI",
    "Reliability", "Cloud coverage",
]
FLAG_COLS = [
    "flag_ghi", "flag_dhi", "flag_dni", "flag_ghi_rare",
    "flag_dhi_rare", "flag_dni_rare", "flag_comp1", "flag_comp2",
]
EXCLUDED_STATION = "Sleman"

# 35 stations (F1). Sleman carries the reference's bad negative longitude
# and is the compile step's exclusion target.
_STATIONS = [
    ("Padang_Pariaman", -0.54565, 100.29851, 128, 7),
    ("Makassar", -5.061, 119.443, 5, 8),
    (EXCLUDED_STATION, -7.7, -110.35362, 230, 7),
    ("Kupang", -10.177, 123.607, 56, 8),
    ("Banda_Aceh", 5.548, 95.323, 21, 7),
    ("Medan", 3.595, 98.672, 25, 7),
    ("Pekanbaru", 0.507, 101.447, 31, 7),
    ("Jambi", -1.610, 103.613, 35, 7),
    ("Palembang", -2.976, 104.775, 8, 7),
    ("Bengkulu", -3.800, 102.265, 10, 7),
    ("Bandar_Lampung", -5.397, 105.266, 96, 7),
    ("Pangkal_Pinang", -2.129, 106.113, 27, 7),
    ("Tanjung_Pinang", 0.918, 104.446, 21, 7),
    ("Serang", -6.120, 106.150, 40, 7),
    ("Bandung", -6.914, 107.609, 768, 7),
    ("Semarang", -6.966, 110.416, 4, 7),
    ("Surabaya", -7.257, 112.752, 5, 7),
    ("Denpasar", -8.650, 115.216, 20, 8),
    ("Mataram", -8.583, 116.116, 17, 8),
    ("Pontianak", -0.027, 109.333, 1, 7),
    ("Palangka_Raya", -2.210, 113.920, 27, 7),
    ("Banjarmasin", -3.316, 114.590, 3, 8),
    ("Samarinda", -0.502, 117.154, 8, 8),
    ("Tanjung_Selor", 2.837, 117.366, 12, 8),
    ("Manado", 1.474, 124.842, 12, 8),
    ("Gorontalo", 0.543, 123.056, 14, 8),
    ("Palu", -0.899, 119.870, 84, 8),
    ("Mamuju", -2.674, 118.886, 7, 8),
    ("Kendari", -3.972, 122.515, 33, 8),
    ("Ambon", -3.695, 128.181, 11, 9),
    ("Ternate", 0.790, 127.384, 24, 9),
    ("Manokwari", -0.861, 134.062, 3, 9),
    ("Jayapura", -2.533, 140.718, 90, 9),
    ("Merauke", -8.493, 140.401, 3, 9),
    ("Sorong", -0.876, 131.255, 3, 9),
]


def stations(n: int = len(_STATIONS)) -> list[str]:
    """The first ``n`` stations of the table (the checked sample stations
    and the excluded one come first)."""
    return [s[0] for s in _STATIONS[:n]]


def _rng(seed: int, *key: str) -> np.random.Generator:
    """A generator seeded from (seed, key): one independent stream per
    file, so a file's bytes do not depend on generation order."""
    words = [seed] + [b for k in key for b in k.encode("utf-8")]
    return np.random.default_rng(np.random.SeedSequence(words))


def raw_name(station: str, sky_type: str) -> str:
    return f"raw_1min_{station}_{sky_type}.csv"


def ground_name(station: str) -> str:
    return f"QC_{station}_2024_flagged.csv"


def _sun(minutes: np.ndarray, lon: float) -> np.ndarray:
    """Clear-sky shape in [0, 1]: a half-sine between local 06:00 and
    18:00 solar time at the station's longitude."""
    local_h = (minutes / 60.0 + lon / 15.0) % 24.0
    return np.clip(np.sin(np.pi * (local_h - 6.0) / 12.0), 0.0, None)


def write_locations(path: str, n: int) -> None:
    lines = ["no,station,latitude,longitude,elevation,timezone"]
    for i, (name, lat, lon, elev, tz) in enumerate(_STATIONS[:n], start=1):
        lines.append(f"{i},{name},{lat},{lon},{elev},UTC+{tz}")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _raw_series(seed: int, station: str, sky_type: str, lon: float, minutes: int):
    """Per-minute values (Wh/m² per minute) plus the kept-minute mask."""
    rng = _rng(seed, "raw", station, sky_type)
    t = np.arange(minutes)
    sun = _sun(t, abs(lon))
    clear = {
        "TOA": 22.0 * sun,
        "Clear sky GHI": 17.0 * sun,
        "Clear sky DHI": 2.5 * sun,
        "Clear sky BNI": 15.0 * sun,
    }
    clear["Clear sky BHI"] = clear["Clear sky GHI"] - clear["Clear sky DHI"]
    if sky_type == "observed_cloud":
        cloud = np.clip(50 + np.cumsum(rng.normal(0, 2.0, minutes)), 0, 100)
        att = 1.0 - 0.7 * cloud / 100.0
    else:
        cloud = None
        att = np.ones(minutes)
    ghi = clear["Clear sky GHI"] * att * rng.uniform(0.95, 1.05, minutes)
    dhi = np.minimum(ghi, clear["Clear sky DHI"] * (2.0 - att))
    bhi = ghi - dhi
    bni = clear["Clear sky BNI"] * att
    cols = {
        "TOA": clear["TOA"], "Clear sky GHI": clear["Clear sky GHI"],
        "Clear sky BHI": clear["Clear sky BHI"],
        "Clear sky DHI": clear["Clear sky DHI"],
        "Clear sky BNI": clear["Clear sky BNI"],
        "GHI": ghi, "BHI": bhi, "DHI": dhi, "BNI": bni,
        "Reliability": np.where(rng.uniform(size=minutes) < 0.02, 0.5, 1.0),
    }
    if cloud is not None:
        cols["Cloud coverage"] = cloud
    keep = np.ones(minutes, dtype=bool)
    # One missing-minute gap of 20-60 minutes (leaves at least one empty
    # 10-minute bucket) plus scattered single missing minutes.
    g0 = int(rng.integers(60, max(61, minutes - 120)))
    keep[g0 : g0 + int(rng.integers(20, 61))] = False
    keep[rng.uniform(size=minutes) < 0.01] = False
    return cols, keep, rng


def write_raw(path: str, seed: int, station: str, sky_type: str, lon: float,
              minutes: int) -> None:
    """One F2 file: ``#`` metadata, ``#`` header line, ``;`` rows with
    missing minutes and empty cells."""
    cols, keep, rng = _raw_series(seed, station, sky_type, lon, minutes)
    names = [c for c in EXPERT_COLS if c == "Observation period" or c in cols]
    t = np.arange(minutes)[keep]
    base = np.datetime64("2024-01-01T00:00")
    start = np.datetime_as_string(base + t.astype("timedelta64[m]"), unit="s")
    end = np.datetime_as_string(base + (t + 1).astype("timedelta64[m]"), unit="s")
    frame = {"Observation period": [f"{a}.0/{b}.0" for a, b in zip(start, end)]}
    for c in names[1:]:
        v = cols[c][keep]
        frame[c] = np.where(rng.uniform(size=len(t)) < 0.02, np.nan, v)
    head = [
        "# Coding: utf-8",
        "# Title: CAMS solar radiation time-series (generated)",
        f"# Location: {station}",
        f"# Sky type: {sky_type}",
        "# Time reference: Universal time (UT)",
        "# " + ";".join(names),
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(head) + "\n")
        pd.DataFrame(frame).to_csv(fh, sep=";", header=False, index=False,
                                   float_format="%.4f", lineterminator="\n")


def write_ground(path: str, seed: int, station: str, lon: float, minutes: int,
                 tz_aware: bool) -> None:
    """One F4 file on the 10-minute grid: W/m² values near the CAMS
    observed-cloud series, all 8 flag columns with a few flagged rows,
    zero DHI at night, and naive or ``+00:00`` timestamps."""
    rng = _rng(seed, "ground", station)
    n = minutes // 10
    t = np.arange(n) * 10
    sun = _sun(t + 5, abs(lon))
    ghi = 60 * 17.0 * sun * rng.uniform(0.4, 1.0, n)
    dhi = np.where(sun > 0, 60 * 2.5 * sun * rng.uniform(0.8, 1.6, n), 0.0)
    dni = 60 * 15.0 * sun * rng.uniform(0.3, 1.0, n)
    base = np.datetime64("2024-01-01T00:00")
    stamps = [
        s.replace("T", " ") + ("+00:00" if tz_aware else "")
        for s in np.datetime_as_string(base + t.astype("timedelta64[m]"), unit="s")
    ]
    frame = {"Datetime (UTC)": stamps, "GHI": ghi, "DHI": dhi, "DNI": dni}
    for c in FLAG_COLS:
        frame[c] = (rng.uniform(size=n) < 0.004).astype(int)
    pd.DataFrame(frame).to_csv(path, index=False, float_format="%.3f",
                               lineterminator="\n")


def write_solar_corpus(root: str, seed: int, days: float,
                       n_stations: int = len(_STATIONS)) -> dict:
    """Write the solar corpus for the first ``n_stations`` stations under
    ``root``; returns its paths."""
    minutes = int(round(days * 1440))
    raw_dir = os.path.join(root, "raw")
    ground_dir = os.path.join(root, "ground")
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(ground_dir, exist_ok=True)
    locations = os.path.join(root, "asrs_location.csv")
    write_locations(locations, n_stations)
    for i, (name, _lat, lon, _elev, _tz) in enumerate(_STATIONS[:n_stations]):
        for sky in SKY_TYPES:
            write_raw(os.path.join(raw_dir, raw_name(name, sky)), seed, name,
                      sky, lon, minutes)
        write_ground(os.path.join(ground_dir, ground_name(name)), seed, name,
                     lon, minutes, tz_aware=bool(i % 2))
    return {"locations": locations, "raw_dir": raw_dir, "ground_dir": ground_dir,
            "stations": stations(n_stations)}


def write_query_tables(sf_dir: str, seed: int, n_events: int,
                       n_users: int, n_vectors: int) -> None:
    """``events`` and ``embeddings`` parquet tables with the test
    corpus's schema and value shapes (TESTDATA.md): 30 days of events
    over ``n_users`` users and five event types; unit-norm 64-d float
    vectors around ten labelled centres."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    rng = _rng(seed, "events")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))

    rng = _rng(seed, "embeddings")
    centres = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vectors)
    vecs = centres[labels] * 0.35 + rng.normal(0, 1, (n_vectors, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
