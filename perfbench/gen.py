"""Seeded input generators for the benchmark workloads.

Every generator takes an explicit ``numpy.random.Generator`` and writes
plain files (CSV, parquet, text, YAML) with NumPy/pandas/pyarrow only, so
inputs exist before any Spark session starts and the program under test
sees nothing but the files. Each generator returns the closed-form
expectations its workload checks the program's outputs against.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2021-09-01T00:00:00", "s")
G = 9.81


def _wavenumber(omega: float, depth: float) -> float:
    """Linear dispersion omega^2 = g k tanh(k h), solved by Newton."""
    k = omega * omega / G
    for _ in range(50):
        f = G * k * math.tanh(k * depth) - omega * omega
        df = G * math.tanh(k * depth) + G * k * depth / math.cosh(k * depth) ** 2
        k -= f / df
    return k


@dataclass
class Deployment:
    """An RBR pressure/temperature/turbidity deployment and its expectations."""

    gatts: str
    config: str
    csv: str
    met: str
    samples: int
    clean_rows: int
    bursts: int
    nulled: dict[str, int]
    input_bytes: int


def make_deployment(rng: np.random.Generator, out: str, bursts: int, spb: int) -> Deployment:
    """Hourly 1 Hz bursts of ``spb`` samples; the first and last burst lie
    outside the deployment window, and temperature/turbidity outliers are
    planted inside it for the QA/QC ``_max`` rules to null."""
    os.makedirs(out, exist_ok=True)
    depth, height = 8.0, 0.5
    t_burst = np.arange(bursts)[:, None] * 3600 + np.arange(spb)[None, :]
    seconds = t_burst.ravel()
    n = seconds.size
    omega = 2 * np.pi / rng.uniform(6.0, 12.0, bursts)
    amp = rng.uniform(0.2, 0.8, bursts)
    phase = rng.uniform(0, 2 * np.pi, bursts)
    kp = np.array(
        [math.cosh(_wavenumber(w, depth) * height) / math.cosh(_wavenumber(w, depth) * depth) for w in omega]
    )
    wave = (amp * kp)[:, None] * np.cos(omega[:, None] * np.arange(spb)[None, :] + phase[:, None])
    tide = 0.6 * np.sin(2 * np.pi * seconds / 44714.0)
    pressure = 10.13 + depth - height + tide + wave.ravel() + rng.normal(0, 0.01, n)
    temperature = 18.0 + 2.0 * np.sin(2 * np.pi * seconds / 86400.0) + rng.normal(0, 0.05, n)
    turbidity = np.abs(5.0 + rng.normal(0, 1.0, n))

    inside = np.arange(spb, (bursts - 1) * spb)
    n_temp, n_turb = int(rng.integers(5, 20)), int(rng.integers(5, 20))
    picks = rng.choice(inside, n_temp + n_turb, replace=False)
    temperature[picks[:n_temp]] = 45.0
    turbidity[picks[n_temp:]] = 500.0

    csv = os.path.join(out, "deployment.csv")
    times = (EPOCH + seconds.astype("timedelta64[s]")).astype(str)
    pd.DataFrame(
        {
            "Time": np.char.replace(times, "T", " "),
            "Pressure": np.round(pressure, 4),
            "Temperature": np.round(temperature, 4),
            "Turbidity": np.round(turbidity, 3),
        }
    ).to_csv(csv, index=False)

    met_s = np.arange(-3600, bursts * 3600 + 3600, 600)
    met = os.path.join(out, "met.parquet")
    pq.write_table(
        pa.table(
            {
                "time": pa.array(EPOCH + met_s.astype("timedelta64[s]"), pa.timestamp("us", tz="UTC")),
                "atmpres": 10.13 + rng.normal(0, 0.02, met_s.size),
            }
        ),
        met,
    )

    def stamp(sec: int) -> str:
        return str(EPOCH + np.timedelta64(int(sec), "s")).replace("T", " ")

    gatts = os.path.join(out, "gatts.txt")
    with open(gatts, "w", encoding="utf-8") as f:
        f.write(
            "title; Benchmark RBR deployment\n"
            "MOORING; 1234\n"
            f"WATER_DEPTH; {depth}\n"
            "latitude; 37.0\n"
            "longitude; -122.0\n"
            f"initial_instrument_height; {height}\n"
        )
    config = os.path.join(out, "config.yaml")
    with open(config, "w", encoding="utf-8") as f:
        f.write(
            "filename: dep\n"
            "good_dates:\n"
            f"  - ['{stamp(3600 - 1800)}', '{stamp((bursts - 2) * 3600 + spb + 1800)}']\n"
            "T_28_max: 35.0\n"
            "Turb_max: 100.0\n"
            "Turb_ssc_coeffs: [2.0, 1.0]\n"
            "wave_interval: 3600\n"
            "sample_interval: 1.0\n"
            f"wave_duration: {spb}\n"
            "wave_fcut: 0.3\n"
        )
    return Deployment(
        gatts=gatts,
        config=config,
        csv=csv,
        met=met,
        samples=n,
        clean_rows=(bursts - 2) * spb,
        bursts=bursts - 2,
        nulled={"T_28": n_temp, "Turb": n_turb},
        input_bytes=os.path.getsize(csv) + os.path.getsize(met),
    )


@dataclass
class Directional:
    """A PUV clean zone with one planted swell direction per burst."""

    config: dict
    bursts: int
    samples: int
    direction_deg: np.ndarray
    input_bytes: int


def make_directional(rng: np.random.Generator, out: str, bursts: int, spb: int, files: int = 4) -> Directional:
    """2 Hz pressure + velocity bursts under a linear swell travelling in a
    seeded direction, plus weak noise; written as the ``dir_clean`` zone.
    The expected DIWASP direction is nautical (coming from) degrees,
    ``(270 - theta) mod 360`` for propagation angle ``theta``."""
    os.makedirs(out, exist_ok=True)
    fs, depth, height = 2.0, 10.0, 0.5
    t = np.arange(spb) / fs
    theta = rng.uniform(0, 360, bursts)
    omega = 2 * np.pi / rng.uniform(8.0, 12.0, bursts)
    amp = rng.uniform(0.3, 0.6, bursts)
    cols: dict[str, list] = {k: [] for k in ("time", "burst", "sample", "P_1ac", "u_1205", "v_1206")}
    for b in range(bursts):
        k = _wavenumber(omega[b], depth)
        ph = omega[b] * t + rng.uniform(0, 2 * np.pi)
        eta = amp[b] * np.cos(ph)
        p = depth - height + eta * math.cosh(k * height) / math.cosh(k * depth)
        speed = eta * omega[b] * math.cosh(k * height) / math.sinh(k * depth)
        cols["time"].append(EPOCH + np.timedelta64(b * 3600, "s") + (t * 1e6).astype("timedelta64[us]"))
        cols["burst"].append(np.full(spb, b, dtype=np.int64))
        cols["sample"].append(np.arange(spb, dtype=np.int64))
        cols["P_1ac"].append(p + rng.normal(0, 0.005, spb))
        cols["u_1205"].append(speed * math.cos(math.radians(theta[b])) + rng.normal(0, 0.005, spb))
        cols["v_1206"].append(speed * math.sin(math.radians(theta[b])) + rng.normal(0, 0.005, spb))
    table = pa.table(
        {
            "time": pa.array(np.concatenate(cols["time"]), pa.timestamp("us", tz="UTC")),
            **{k: np.concatenate(v) for k, v in cols.items() if k != "time"},
        }
    )
    zone = os.path.join(out, "dir_clean")
    os.makedirs(zone, exist_ok=True)
    step = math.ceil(table.num_rows / files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(zone, f"part-{i:05d}.parquet"))
    size = sum(os.path.getsize(os.path.join(zone, f)) for f in os.listdir(zone))
    config = {
        "output_dir": out,
        "filename": "dir",
        "wave_interval": 3600,
        "sample_interval": 1.0 / fs,
        "initial_instrument_height": height,
        "pressure_sensor_height": height,
        "wave_fcut": 0.4,
        "puv": True,
        "diwasp": "puv",
        "diwasp_method": "IMLM",
    }
    return Directional(config, bursts, bursts * spb, (270.0 - theta) % 360.0, size)


WORDS = (
    "the a data spark query table row column join filter group sort merge window "
    "stream batch key value hash scan part line order customer vector fast slow "
    "big small agg tide wave burst sensor pressure current ocean mooring salinity"
).split()
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def make_tables(rng: np.random.Generator, out: str) -> dict[str, int]:
    """The registry's star schema plus events/documents/embeddings, shaped
    like the repository's synthetic sf0.001 test tables. Returns the row
    count of every table written."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_ev, n_doc = 1500, 6000, 1000, 500
    day0 = np.datetime64("1992-01-01", "us")
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["cold", "small", "large", "blue", "red", "green"], n_part),
                    rng.choice(["widget", "bolt", "rod", "gear", "valve"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "P", "O"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
            "o_orderdate": day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": rng.choice(["N", "A", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": day0 + rng.integers(0, 2500, n_line).astype("timedelta64[D]"),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, 15, n_ev, dtype=np.int64),
            "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.2:
            # near-duplicate of an earlier document: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                toks[j] = str(rng.choice(WORDS))
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(toks))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_doc, dtype=np.int32)
    emb = (centers[labels] + rng.normal(0, 0.05, (n_doc, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels,
    }
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
