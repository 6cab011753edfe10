"""Seeded raw station corpus for the pipeline workloads.

Writes one CSV per station under ``<out>/<NETWORK>/`` in the Synoptic
vocabulary that ``sources.networks`` cleans for the MADIS-family
networks: temperatures in degrees C, elevation in feet, ``*_set_1``
columns and a letter-coded ``air_temp_set_1_qc`` column. The cleaner
therefore does real work (renames, C->K and ft->m conversions, the
ps-over-psl window, sentinel nulling).

Planted defects (FIXTURES.md ids) sit at seeded rows of every station;
``generate`` returns them as ``(station, time, column, expected_flag)``
rows, where ``column`` is the canonical variable whose ``_eraqc``
carries the flag after QA/QC:

- D1  tas beyond the world record (66.9 C = 340.05 K)      -> tas 11
- D2  dewpoint above air temperature                        -> tdps 12
- D4  negative precipitation                                -> pr 11
- D5  calm wind with a non-zero direction                   -> sfcWind_dir 14
- D8  isolated one-point station-pressure spike             -> ps 23
- D9  40-row constant wind-speed run (tier-0.1 limit is 24) -> sfcWind 28

Run directly to write the benchmark's corpus (``SPEC``) and print its
digest:

    python3 perfbench/corpus.py --seed 1 --out <dir>
"""

from __future__ import annotations

import argparse
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

START = np.datetime64("2015-01-01T00:00:00", "s")
NETWORKS = ("RAWS", "CWOP", "HADS", "CDEC")

# (defect id, canonical variable, expected _eraqc code)
DEFECTS = (
    ("D1", "tas", 11),
    ("D2", "tdps", 12),
    # pr < 0 is also below the pr world-record range, and the world-record
    # check runs first, so the logic check's 10 never lands
    ("D4", "pr", 11),
    ("D5", "sfcWind_dir", 14),
    ("D8", "ps", 23),
    ("D9", "sfcWind", 28),
)
D9_RUN = 40
SENTINEL = "-9999"


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one corpus: ``n_stations`` spread round-robin over
    ``n_networks`` networks, each with ``days`` of records every
    ``step_min`` minutes."""

    n_stations: int
    days: int
    step_min: int
    n_networks: int

    @property
    def rows_per_station(self) -> int:
        return self.days * 24 * 60 // self.step_min

    @property
    def rows(self) -> int:
        return self.n_stations * self.rows_per_station

    @property
    def hours_per_station(self) -> int:
        """Hourly-grid rows the merge must produce per station (first
        to last observation hour, both inclusive)."""
        last = (self.rows_per_station - 1) * self.step_min
        return last // 60 + 1


# the ``pipeline_wide`` corpus: 32 stations x 4 days of 5-minute records
# in 4 networks (36,864 rows)
SPEC = CorpusSpec(32, 4, 5, 4)


def station_ids(spec: CorpusSpec) -> list[tuple[str, str]]:
    """(network, station) pairs, round-robin over the networks."""
    return [
        (NETWORKS[i % spec.n_networks], f"{NETWORKS[i % spec.n_networks]}_B{i:04d}")
        for i in range(spec.n_stations)
    ]


def _station_values(rng: np.random.Generator, spec: CorpusSpec, idx: int):
    """Clean signal for one station: diurnal + seasonal sine, uniform
    noise, 0.1-resolution temperatures and winds."""
    n = spec.rows_per_station
    minutes = np.arange(n, dtype=np.int64) * spec.step_min
    hours = minutes / 60.0
    tas = (
        12.0
        + 0.3 * idx
        + 8.0 * np.sin(hours * 2 * np.pi / 24)
        + 10.0 * np.sin(hours * 2 * np.pi / 8766)
        + (rng.random(n) - 0.5) * 2.0
    ).round(1)
    vals = {
        "tas": tas,
        "tdps": (tas - 3.0 - rng.random(n) * 4.0).round(1),
        "ps": (95000.0 + (rng.random(n) - 0.5) * 400.0).round(0),
        "wind": (0.5 + rng.random(n) * 10.0).round(1),
        "wdir": (1.0 + rng.random(n) * 358.0).round(0),
        "pr": np.where(rng.random(n) < 0.05, (rng.random(n) * 5.0).round(2), 0.0),
    }
    return minutes, vals


def _defect_rows(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Seeded, mutually separated row positions: two rows per point
    defect, plus the start of one D9 run. Each pick owns a 64-row slot,
    so no planted row falls inside another's spike or streak window."""
    slots = n // 64
    picks = rng.choice(np.arange(2, slots - 2), size=11, replace=False)
    rows = picks * 64 + rng.integers(0, 8, size=11)
    out = {d: rows[2 * k: 2 * k + 2] for k, (d, _v, _f) in enumerate(DEFECTS[:5])}
    out["D9"] = rows[10:11]
    return out


def plant(vals: dict[str, np.ndarray], rows: dict[str, np.ndarray]) -> None:
    """Write the defects into the raw (network-unit) columns in place."""
    vals["tas"][rows["D1"]] = 66.9
    vals["tdps"][rows["D2"]] = vals["tas"][rows["D2"]] + 2.0
    vals["pr"][rows["D4"]] = -1.5
    vals["wind"][rows["D5"]] = 0.0
    vals["wdir"][rows["D5"]] = 90.0
    vals["ps"][rows["D8"]] = vals["ps"][rows["D8"]] + 2500.0
    start = int(rows["D9"][0])
    vals["wind"][start: start + D9_RUN] = 3.3


def _fmt(values: np.ndarray, decimals: int) -> np.ndarray:
    return np.char.mod(f"%.{decimals}f", values)


def generate(seed: int, out_dir: str) -> dict:
    """Write the ``SPEC`` corpus; return ``{"rows", "stations", "defects",
    "digest"}``. ``defects`` lists ``(station, time_iso, var, flag)``;
    ``digest`` is the md5 over every byte written, in write order."""
    spec = SPEC
    rng = np.random.default_rng(seed)
    md5 = hashlib.md5()
    defects: list[tuple[str, str, str, int]] = []
    for idx, (net, station) in enumerate(station_ids(spec)):
        minutes, vals = _station_values(rng, spec, idx)
        n = len(minutes)
        rows = _defect_rows(rng, n)
        plant(vals, rows)
        iso = np.datetime_as_string(
            START + minutes.astype("timedelta64[m]"), unit="s"
        )
        for d, var, flag in DEFECTS:
            sel = rows[d]
            if d == "D9":
                sel = np.arange(int(sel[0]), int(sel[0]) + D9_RUN)
            defects += [(station, str(iso[i]), var, flag) for i in sel]
        tas_s = _fmt(vals["tas"], 1)
        # a few sentinel codes (FIXTURES.md D19) that the reader nulls,
        # kept away from every planted row
        taken = np.concatenate(list(rows.values()))
        near = np.concatenate([taken + k for k in range(-4, D9_RUN + 4)])
        free = np.setdiff1d(np.arange(n), near)
        tas_s[rng.choice(free, size=3, replace=False)] = SENTINEL
        table = pa.table({
            "station": np.full(n, station),
            "time": np.char.add(iso, "Z"),
            "lat": np.full(n, f"{36.0 + 0.05 * idx:.3f}"),
            "lon": np.full(n, f"{-120.0 + 0.05 * idx:.3f}"),
            "elevation": np.full(n, str(300 + 10 * idx)),
            "air_temp_set_1": tas_s,
            "air_temp_set_1_qc": np.where(rng.random(n) < 0.01, "S", ""),
            "dew_point_temperature_set_1": _fmt(vals["tdps"], 1),
            "pressure_set_1": _fmt(vals["ps"], 0),
            "wind_speed_set_1": _fmt(vals["wind"], 1),
            "wind_direction_set_1": _fmt(vals["wdir"], 0),
            "precip_accum_set_1": _fmt(vals["pr"], 2),
        })
        net_dir = os.path.join(out_dir, net)
        os.makedirs(net_dir, exist_ok=True)
        path = os.path.join(net_dir, f"{station}.csv")
        pacsv.write_csv(table, path)
        with open(path, "rb") as fh:
            md5.update(fh.read())
    return {
        "rows": spec.rows,
        "stations": spec.n_stations,
        "defects": defects,
        "digest": md5.hexdigest(),
    }


def main() -> None:
    p = argparse.ArgumentParser(description="Write a seeded raw station corpus.")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    info = generate(a.seed, a.out)
    print(f"rows={info['rows']} defects={len(info['defects'])} "
          f"digest={info['digest']}")


if __name__ == "__main__":
    main()
