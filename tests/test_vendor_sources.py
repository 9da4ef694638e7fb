"""Round-trip tests for the Seagauge .wb and RBR .rsk readers."""

import datetime as dt
import sqlite3

import pytest

from stglib_spark.sources.rsk import read_rsk, rsk_sampling_attrs
from stglib_spark.sources.sg import parse_wb, read_sg_wb


def _write_wb(path, bursts):
    """bursts: list of (burst_no, epoch2000_s, samples list)."""
    with open(path, "w") as f:
        f.write("SBE 26plus\n")
        for no, t, samples in bursts:
            f.write(f"* {no} {t} x {len(samples)} y\n")
            for i in range(0, len(samples), 4):
                f.write(" ".join(f"{v:.3f}" for v in samples[i : i + 4]) + "\n")


def test_sg_wb_roundtrip(tmp_path, spark):
    p = str(tmp_path / "dep.wb")
    _write_wb(
        p,
        [
            (0, 0, [10.0, 10.1, 10.2, 10.3, 10.4, 10.5, 10.6, 10.7]),
            (1, 3600, [11.0, 11.1, 11.2, 11.3]),
        ],
    )
    df = read_sg_wb(spark, p).orderBy("burst_number", "sample")
    rows = df.collect()
    assert len(rows) == 12
    assert rows[0]["time"] == dt.datetime(2000, 1, 1)
    assert rows[0]["sample"] == 1 and rows[0]["P_1"] == pytest.approx(10.0)
    assert rows[8]["time"] == dt.datetime(2000, 1, 1, 1)
    assert rows[8]["burst_number"] == 1


def test_parse_wb_ignores_trailing_garbage():
    txt = "SBE header\n* 7 100 x 3 y\n1.0 2.0 3.0 4.0\n"
    rows = list(parse_wb(txt, "f"))
    # only 3 samples declared — 4th token ignored
    assert [r.P_1 for r in rows] == [1.0, 2.0, 3.0]
    assert rows[0].time == dt.datetime(2000, 1, 1, 0, 1, 40)


def _write_rsk(path, burst=False):
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE instruments (serialID TEXT)")
    con.execute("INSERT INTO instruments VALUES ('123456')")
    con.execute(
        "CREATE TABLE schedules (samplingcount INT, samplingperiod INT,"
        " repetitionperiod INT)"
    )
    con.execute("INSERT INTO schedules VALUES (4, 250, 3600000)")
    table = "burstdata" if burst else "data"
    con.execute(f"CREATE TABLE {table} (tstamp INT, channel01 REAL, channel02 REAL)")
    t0 = 1704067200000  # 2024-01-01 epoch ms
    for i in range(8):
        con.execute(
            f"INSERT INTO {table} VALUES (?, ?, ?)",
            (t0 + i * 250, 10.0 + i * 0.1, 20.0 + i),
        )
    con.commit()
    con.close()


def test_rsk_reader_continuous(tmp_path, spark):
    p = str(tmp_path / "dep.rsk")
    _write_rsk(p)
    attrs = rsk_sampling_attrs(p)
    assert attrs["samples_per_burst"] == 4
    assert attrs["sample_interval"] == pytest.approx(0.25)
    assert attrs["burst_interval"] == pytest.approx(3600.0)
    assert attrs["serial_number"] == "123456"

    df = read_rsk(spark, p, {"channel01": "P_1", "channel02": "T_28"})
    rows = df.orderBy("time").collect()
    assert len(rows) == 8
    assert rows[0]["time"] == dt.datetime(2024, 1, 1)
    assert rows[0]["P_1"] == pytest.approx(10.0)
    assert rows[0]["T_28"] == pytest.approx(20.0)


def test_rsk_reader_burst_keys(tmp_path, spark):
    p = str(tmp_path / "depb.rsk")
    _write_rsk(p, burst=True)
    df = read_rsk(spark, p, {"channel01": "P_1"}, table="burstdata")
    rows = df.orderBy("time").collect()
    assert [r["sample"] for r in rows] == [0, 1, 2, 3, 0, 1, 2, 3]
    assert [r["burst"] for r in rows] == [0, 0, 0, 0, 1, 1, 1, 1]


def _write_ea_log(path, nseries=2, samples=2, nbins=3):
    with open(path, "w") as f:
        f.write("#DeviceID EA400 SN 9001\n")
        f.write(f"#NSamples {nbins}\n")
        f.write("#Resolution,m 0.05\n")
        f.write(f"#Pulses in series,num {samples}\n")
        ping = 0
        for s in range(nseries):
            for i in range(samples):
                ping += 1
                f.write(f"#TimeUTC 01.03.2024 10:0{s}:0{i}.000\n")
                f.write(f"#Ping   {ping}\n")
                f.write(f"#Altitude,m {1.5 + 0.1 * ping}\n")
                f.write("#Temperature,C 18.2\n")
                f.write("#Pitch,deg 1.0\n")
                f.write("#Roll,deg -0.5\n")
        f.write("##DataStart\n")
        for k in range(nseries * samples * nbins):
            f.write(f"{100 + k}\n")
        f.write("##DataEnd\n")


def test_eofe_log(tmp_path, spark):
    from stglib_spark.sources.eofe import (
        read_ea_instmeta,
        read_ea_point,
        read_ea_profile,
    )

    p = str(tmp_path / "ea.log")
    _write_ea_log(p)
    meta = read_ea_instmeta(p)
    assert meta["EABin_count"] == 3
    assert meta["EAPulses_in_series_num"] == 2
    assert meta["serial_number"] == "EA400"

    pt = read_ea_point(spark, p, meta).orderBy("ping").collect()
    assert len(pt) == 4
    assert pt[0]["time"] == dt.datetime(2024, 3, 1, 10, 0, 0)
    assert pt[1]["time"] == dt.datetime(2024, 3, 1, 10, 0, 0)  # same series
    assert pt[2]["time"] == dt.datetime(2024, 3, 1, 10, 1, 0)
    assert pt[1]["sample"] == 1
    assert pt[0]["Altitude_m"] == pytest.approx(1.6)

    prof = read_ea_profile(spark, p, meta).orderBy("time", "sample", "bins").collect()
    assert len(prof) == 12
    assert prof[0]["Counts"] == 100.0
    assert prof[0]["bins"] == 0 and prof[0]["sample"] == 0
    assert prof[11]["Counts"] == 111.0
    assert prof[11]["time"] == dt.datetime(2024, 3, 1, 10, 1, 0)


def test_qrev_xml(tmp_path, spark):
    from stglib_spark.sources.qrev import read_qrev_xml

    p = str(tmp_path / "qrev.xml")
    with open(p, "w") as f:
        f.write(
            """<Channel>
  <Transect>
    <Filename>t1.mmt</Filename>
    <StartDateTime>03/01/2024 10:00:00</StartDateTime>
    <EndDateTime>03/01/2024 10:10:00</EndDateTime>
    <Discharge><Total>12.5</Total><Top>2.0</Top><Middle>8.0</Middle>
      <Bottom>1.5</Bottom><Left>0.5</Left><Right>0.5</Right></Discharge>
    <Other><Area>25.0</Area><Width>30.0</Width><QoverA>0.5</QoverA></Other>
    <Edge><LeftDistance>3.0</LeftDistance><RightDistance>4.0</RightDistance></Edge>
  </Transect>
  <Transect>
    <Filename>t2.mmt</Filename>
    <StartDateTime>03/01/2024 11:00:00</StartDateTime>
    <EndDateTime>03/01/2024 11:10:00</EndDateTime>
    <Discharge><Total>-11.0</Total><Top>1.0</Top><Middle>8.0</Middle>
      <Bottom>1.0</Bottom><Left>0.5</Left><Right>0.5</Right></Discharge>
    <Other><Area>24.0</Area><Width>29.0</Width><QoverA>-0.45</QoverA></Other>
    <Edge><LeftDistance>3.1</LeftDistance><RightDistance>4.1</RightDistance></Edge>
  </Transect>
</Channel>"""
        )
    df = read_qrev_xml(spark, p, negateq=[False, True])
    rows = df.orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["time"] == dt.datetime(2024, 3, 1, 10, 5)
    assert rows[0]["q"] == pytest.approx(12.5)
    assert rows[1]["q"] == pytest.approx(11.0)  # negated
    assert rows[1]["QoverA"] == pytest.approx(0.45)
    assert rows[0]["Width"] == pytest.approx(30.0)


def test_imagenex_81r(tmp_path, spark):
    from stglib_spark.sources.son import read_81r, write_81r

    p = str(tmp_path / "sweep.81R")
    scans = [
        {
            "ping_number": k + 1,
            "head_position": 600 + k * 10,
            "step_counts": 10,  # 3.0° per step
            "profile_range": 123,
            "pitch_raw": 320,  # ≈ 7.03°; bit7 of the low byte is the
            # decoder's sign flag, so keep it clear for a positive pitch
            "roll_raw": 228,
            "heading_raw": 4096,  # 90°
            "echo": [min(255, k * 50 + j % 250) for j in range(252)],
        }
        for k in range(3)
    ]
    write_81r(p, scans)
    df = read_81r(spark, p).orderBy("scan")
    rows = df.collect()
    assert len(rows) == 3
    r = rows[0]
    assert r["ping_number"] == 1
    assert r["HeadPosition"] == 600
    assert r["HeadAngle"] == pytest.approx(0.0)
    assert rows[1]["HeadAngle"] == pytest.approx(30.0)  # 10 counts * 3.0°
    assert r["ProfileRange"] == 123
    assert r["Pitch"] == pytest.approx(320 * 360 / 16384)
    assert r["Heading"] == pytest.approx(90.0)
    assert len(r["sonar_image"]) == 252
    assert rows[2]["sonar_image"][0] == 100


def test_mat5_roundtrip(tmp_path):
    import numpy as np

    from stglib_spark.functions.mat5 import loadmat, savemat

    p = str(tmp_path / "x.mat")
    a = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    savemat(
        p,
        {
            "Burst": {"Pressure": a, "SerialNo": "S123"},
            "vel": np.array([[0.1, -0.2]]),
            "label": "hello",
        },
    )
    out = loadmat(p)
    np.testing.assert_allclose(out["Burst"]["Pressure"], a)
    assert out["Burst"]["SerialNo"] == "S123"
    np.testing.assert_allclose(out["vel"], [[0.1, -0.2]])
    assert out["label"] == "hello"


def test_mat5_compressed(tmp_path):
    import numpy as np

    from stglib_spark.functions.mat5 import loadmat, savemat

    p = str(tmp_path / "c.mat")
    a = np.arange(20, dtype=float).reshape(4, 5)
    savemat(p, {"M": a}, compress=True)
    np.testing.assert_allclose(loadmat(p)["M"], a)


def test_read_mat_dataframe(tmp_path, spark):
    import numpy as np

    from stglib_spark.functions.mat5 import savemat
    from stglib_spark.sources.matfile import read_mat

    p = str(tmp_path / "dep.mat")
    savemat(
        p,
        {
            "Data": {
                "Pressure": np.array([[10.0, 10.5, 11.0, 10.2]]),
                "Temp": np.array([[18.0, 18.1, 18.2, 18.3]]),
            },
            "serial": "SIG1000",
        },
    )
    df = read_mat(spark, p)
    rows = df.orderBy("idx").collect()
    assert len(rows) == 4
    assert rows[0]["Data_Pressure"] == pytest.approx(10.0)
    assert rows[3]["Data_Temp"] == pytest.approx(18.3)
    assert rows[0]["serial"] == "SIG1000"


def test_sg_tid(tmp_path, spark):
    from stglib_spark.sources.sg import read_sg_tid

    p = str(tmp_path / "deploy.tid")
    with open(p, "w") as f:
        f.write("    1  01/15/2024  00:00:00  14.503773800722  20.50\n")
        f.write("    2  01/15/2024  00:06:00  29.007547601444  20.60\n")
        f.write("\n")
    rows = read_sg_tid(spark, p).orderBy("sample").collect()
    assert len(rows) == 2
    assert rows[0]["sample"] == 1
    assert rows[0]["time"] == dt.datetime(2024, 1, 15, 0, 0, 0)
    assert rows[0]["P_1"] == pytest.approx(10.0)  # psia -> dbar
    assert rows[1]["P_1"] == pytest.approx(20.0)
    assert rows[1]["Temp"] == pytest.approx(20.6)


def test_instrument_aliases():
    from stglib_spark.sources import ADAPTERS, INSTRUMENT_ALIASES, resolve_instrument

    # every reference instrument spelling resolves to a registered adapter
    reference_instruments = [
        "abss", "aqd", "aqdhr", "aqdwvs", "wvs", "rbr", "rsk", "sig", "vec",
        "eco", "eofe", "exo", "glx", "hobo", "iq", "lisst", "mc", "rdi",
        "sgtid", "sgwvs", "tb", "tcm", "troll", "met", "son", "mar",
    ]
    for inst in reference_instruments:
        assert resolve_instrument(inst) in ADAPTERS, inst
    # exact adapter names always win over aliases
    for name in ADAPTERS:
        assert resolve_instrument(name) == name
    for alias, target in INSTRUMENT_ALIASES.items():
        assert target in ADAPTERS


def test_read_areacomp(spark, tmp_path):
    """AreaComp rating table: 4-line preamble skipped (indexvel.py:16),
    header + numeric columns parsed."""
    from stglib_spark.sources.qrev import read_areacomp

    p = str(tmp_path / "areacomp.csv")
    with open(p, "w") as f:
        f.write("AreaComp v2\nStation: 01234567\nDatum: NAVD88\n#\n")
        f.write("Stage,Area,Width\n")
        f.write("0.5,12.3,30.0\n")
        f.write("1.0,25.1,31.5\n")
        f.write("1.5,39.4,33.0\n")
    df = read_areacomp(spark, p)
    rows = df.orderBy("Stage").collect()
    assert len(rows) == 3
    assert rows[0]["Stage"] == 0.5 and rows[0]["Area"] == 12.3
    assert rows[2]["Width"] == 33.0
    assert dict(df.dtypes)["Area"] == "double"
