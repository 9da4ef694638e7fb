"""Vendor CSV family readers (SURVEY §2.1) against synthetic files that
mimic each instrument's real export format (header preambles, quoting,
sentinel values, tab separators)."""

import pytest

from stglib_spark.sources import ADAPTERS


def test_all_vendor_adapters_registered():
    for name in [
        "hobo",
        "tcm",
        "tb",
        "met_mayfly",
        "met_campbell",
        "eco_par",
        "eco_ntu",
        "mar",
        "mc",
        "lisst",
        "troll",
        "mat",
        "son_81r",
    ]:
        assert name in ADAPTERS, name


def test_hobo(tmp_path, spark):
    p = tmp_path / "hobo.csv"
    p.write_text(
        '"Plot Title: test (LGR S/N: 12345, SEN S/N: 12345)"\n'
        "1,2020-01-01 00:00:00,101.3,18.5\n"
        "2,2020-01-01 00:06:00,101.5,18.6\n"
    )
    from stglib_spark.sources.vendor_csv import read_hobo, read_hobo_serial

    df = read_hobo(spark, str(p), {}).orderBy("time")
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["P_1"] == pytest.approx(10.13)  # kPa -> dbar
    assert rows[1]["T_28"] == pytest.approx(18.6)
    assert read_hobo_serial(str(p)) == "12345"


def test_tcm(tmp_path, spark):
    p = tmp_path / "dep_CR.txt"
    p.write_text(
        "ISO 8601 Time,Speed (cm/s),Bearing (degrees),Velocity-N (cm/s),Velocity-E (cm/s)\n"
        "2020-01-01 00:00:00,10.0,90.0,0.0,10.0\n"
        "2020-01-01 00:01:00,12.0,180.0,-12.0,0.0\n"
    )
    from stglib_spark.sources.vendor_csv import read_tcm

    rows = read_tcm(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["Speed"] == pytest.approx(10.0)
    assert rows[1]["Velocity-N"] == pytest.approx(-12.0)


def test_trublue(tmp_path, spark):
    p = tmp_path / "tb.csv"
    p.write_text(
        "Transducer Model : TB255\n"
        "Transducer Serial : 998877\n"
        "Scan Type : Normal\n"
        "ID,Name,Address\n"
        "1,TB,0,'2020-03-01 12:00:00,0,14.7,21.0\n"
        "1,TB,0,'2020-03-01 12:15:00,900,14.8,21.1\n"
    )
    from stglib_spark.sources.vendor_csv import read_trublue, read_trublue_header

    rows = read_trublue(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["P_1"] == pytest.approx(14.7)
    assert rows[1]["T_28"] == pytest.approx(21.1)
    hdr = read_trublue_header(str(p))
    assert hdr["serial_number"] == "998877"
    assert hdr["TransducerModel"] == "TB255"


def test_mayfly(tmp_path, spark):
    p = tmp_path / "mayfly.csv"
    p.write_text(
        "Data Logger: Mayfly\n"
        "Sampling Feature UUID: x\n"
        "Date and Time in UTC,Temp,Depth\n"
        "2021-06-01 00:00:00,22.5,1.2\n"
        "2021-06-01 00:05:00,-9999,1.3\n"
    )
    from stglib_spark.sources.vendor_csv import read_mayfly

    rows = read_mayfly(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["Temp"] == pytest.approx(22.5)
    assert rows[1]["Temp"] is None  # -9999 sentinel
    assert rows[1]["Depth"] == pytest.approx(1.3)


def test_campbell(tmp_path, spark):
    p = tmp_path / "cr1000.dat"
    p.write_text(
        '"TOA5","station","CR1000"\n'
        '"TIMESTAMP","RECORD","AirTC"\n'
        '"TS","RN","Deg C"\n'
        '"","","Avg"\n'
        '"2021-07-01 00:00:00",0,25.1\n'
        '"2021-07-01 00:10:00",1,NAN\n'
    )
    from stglib_spark.sources.vendor_csv import read_campbell

    rows = read_campbell(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["AirTC"] == pytest.approx(25.1)
    assert rows[1]["AirTC"] is None  # NAN sentinel


def test_eco_par_burst(tmp_path, spark):
    p = tmp_path / "par.raw"
    lines = []
    for b in range(2):
        for s in range(5):
            lines.append(f"01/15/21\t00:{b:02d}:{s:02d}\t{100 * b + s}\n")
    p.write_text("".join(lines))
    from stglib_spark.sources.vendor_csv import read_eco_par

    df = read_eco_par(spark, str(p), {"spb": 5}).orderBy("time")
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["counts"] == pytest.approx(0.0)
    # burst middle time label (eco.py:81): sample index 2 of each burst
    assert rows[0]["burst_time"].second == 2
    assert rows[7]["burst"] == 1
    assert rows[7]["burst_time"].minute == 1


def test_marotte(tmp_path, spark):
    p = tmp_path / "mar.csv"
    p.write_text(
        "datetime,speed (m/s),heading (degrees CW from North),speed upper,speed lower,tilt,direction,batt,temp\n"
        "2020-05-01 00:00:00,0.25,45.0,0.3,0.2,10.0,NE,3.6,15.0\n"
        "2020-05-01 00:00:01,0.26,46.0,0.31,0.21,10.1,NE,3.6,15.1\n"
    )
    from stglib_spark.sources.vendor_csv import read_marotte

    rows = read_marotte(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["speed"] == pytest.approx(0.25)
    assert rows[1]["heading"] == pytest.approx(46.0)


def test_microcat(tmp_path, spark):
    p = tmp_path / "mc.asc"
    p.write_text(
        "* SBE37-SM V 2.6b  SERIAL NO. 1234  23 Jul 2020\n"
        "* sample interval = 60 seconds\n"
        "*S>\n"
        " 21.5000, 5.00000, 35.0000, 01 Aug 2020, 00:00:00\n"
        " 21.6000, 5.10000, 35.1000, 01 Aug 2020, 00:01:00\n"
    )
    from stglib_spark.sources.vendor_csv import read_microcat, read_microcat_header

    rows = read_microcat(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["Temp"] == pytest.approx(21.5)
    assert rows[1]["Sal"] == pytest.approx(35.1)
    hdr = read_microcat_header(str(p))
    assert hdr["serial_number"] == "1234"
    assert hdr["sample_interval"] == "60"


def test_lisst(tmp_path, spark):
    p = tmp_path / "lisst.csv"
    vcs = ",".join(str(i / 10.0) for i in range(1, 37))
    p.write_text(
        f"{vcs},500,12.0,0,600,1.5,18.0,2021,3,4,5,6,7,0,50.0,120.0,40,0,0,0,0,0,10,0,0.9,0.5\n"
        f"{vcs},501,12.0,0,601,1.6,18.1,2021,3,4,5,6,8,0,51.0,121.0,40,0,0,0,0,0,10,0,0.9,0.5\n"
    )
    from stglib_spark.sources.vendor_csv import read_lisst

    rows = read_lisst(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["time"].year == 2021
    assert rows[0]["time"].second == 7
    assert len(rows[0]["vc"]) == 36
    assert rows[0]["vc"][0] == pytest.approx(0.1)
    assert rows[0]["MeanDiameter"] == pytest.approx(50.0)


def test_troll_dejitter_and_shift(tmp_path, spark):
    p = tmp_path / "troll.csv"
    p.write_text(
        "Device,Aqua TROLL 200,\n"
        "Serial Number,555,\n"
        "Sampling,Type,Linear Average,\n"
        "Sampling,Sample Interval,10,secs,\n"
        "Sampling,Samples Averaged,4,\n"
        "Date and Time (UTC),Temperature (C),Pressure (kPa)\n"
        "2020-09-01 00:00:09,20.0,101.0\n"
        "2020-09-01 00:00:20,20.1,101.1\n"
    )
    from stglib_spark.sources.vendor_csv import read_troll, read_troll_metadata

    md = read_troll_metadata(str(p))
    assert md["sn"] == "555"
    assert md["ss"] == "Linear Average"
    rows = read_troll(spark, str(p), {}).orderBy("time").collect()
    assert len(rows) == 2
    # :09 is a jitter second -> pulled to :00, then +sa/si/2 = +0.2s
    # (sub-second -> same second after truncation to timestamp math)
    assert rows[0]["time"].second == 0
    assert rows[1]["time"].second == 20
    assert rows[0]["temperature"] == pytest.approx(20.0)
    assert rows[0]["pressure"] == pytest.approx(101.0)


def test_read_glx_multifile(spark, tmp_path):
    """Geolux TOA5-style glob ingest (glx.py:12-60)."""
    for i in range(2):
        lines = [
            '"TOA5","geolux","CR300"',
            '"TIMESTAMP","RECORD","distance","level"',
            '"TS","RN","m","m"',
            '"","","Smp","Smp"',
        ]
        for j in range(5):
            ts = f"2024-03-0{i+1} 00:0{j}:00"
            lines.append(f'"{ts}",{j},{10.0 + j},{2.0 + 0.1 * j}')
        (tmp_path / f"glx_{i}.dat").write_text("\n".join(lines))
    from stglib_spark.sources import ingest

    df = ingest(spark, "glx", str(tmp_path / "glx_*.dat"), {})
    rows = df.collect()
    assert len(rows) == 10  # header/units rows dropped, both files read
    assert dict(df.dtypes)["RECORD"] == "bigint"
    assert dict(df.dtypes)["distance"] == "double"
    assert rows[0]["time"].day == 1 and rows[-1]["time"].day == 2


def test_read_argonaut_dat(spark, tmp_path):
    """Argonaut whitespace .dat with date-part columns (argonaut.py:15-28)."""
    lines = ["Year Month Day Hour Minute Second Vel1 Vel2 SNR1"]
    for j in range(4):
        lines.append(f"2024 3 5 12 {j} 30   {0.1*j:.2f} {0.2*j:.2f} {20+j}")
    p = tmp_path / "arg.dat"
    p.write_text("\n".join(lines))
    from stglib_spark.sources import ingest

    df = ingest(spark, "argonaut_dat", str(p), {})
    rows = df.orderBy("time").collect()
    assert len(rows) == 4
    assert rows[1]["time"].minute == 1 and rows[1]["time"].second == 30
    assert rows[2]["Vel1"] == pytest.approx(0.2)
    assert dict(df.dtypes)["SNR1"] == "double"


def test_eco_ntu_user_calibration(tmp_path, spark):
    """user_ntucal_coeffs (eco.py:165-176): Turb = polyval(coeffs, counts)
    collapsed to per-burst mean + population std."""
    import numpy as np

    from stglib_spark.sources.vendor_csv import read_eco_ntu

    p = str(tmp_path / "ntu.raw")
    counts = [100, 110, 120, 130, 200, 210, 220, 230]
    with open(p, "w") as f:
        for i, c in enumerate(counts):
            mins = i // 4
            f.write(f"01/15/24\t00:{mins:02d}:00\t695\t{c}\t554\n")
    cfg = {"spb": 4, "user_ntucal_coeffs": [0.01, -1.0]}
    rows = read_eco_ntu(spark, p, cfg).orderBy("time").collect()
    assert len(rows) == 2
    for r, grp in zip(rows, [counts[:4], counts[4:]]):
        exp = np.polyval([0.01, -1.0], np.array(grp, dtype=float))
        assert r["Turb"] == pytest.approx(exp.mean())
        assert r["Turb_std"] == pytest.approx(exp.std())


def test_lisst_burst_mode(tmp_path, spark):
    """operating_mode: burst (lisst.py:428-482): burst cadence inferred
    from the first time delta; partial trailing burst truncated."""
    import numpy as np
    import pandas as pd

    from stglib_spark.sources.vendor_csv import read_lisst

    p = str(tmp_path / "lisst.csv")
    # 2 full bursts of 4 samples at 1 s cadence, 60 s apart, +2 stragglers
    times = []
    for b in range(2):
        t0 = pd.Timestamp("2024-02-01 00:00:00") + pd.Timedelta(seconds=60 * b)
        times += [t0 + pd.Timedelta(seconds=s) for s in range(4)]
    times += [times[-1] + pd.Timedelta(seconds=60), times[-1] + pd.Timedelta(seconds=61)]
    rows = []
    for i, t in enumerate(times):
        vcs = ",".join(str(float(i)) for _ in range(36))
        rows.append(
            f"{vcs},{float(i)},2.0,3.0,4.0,5.0,6.0,"
            f"{t.year},{t.month},{t.day},{t.hour},{t.minute},{t.second}"
        )
    with open(p, "w") as f:
        f.write("\n".join(rows) + "\n")
    df = read_lisst(spark, p, {"operating_mode": "burst"})
    got = df.orderBy("burst", "sample").collect()
    assert len(got) == 8  # stragglers truncated
    assert {r["burst"] for r in got} == {0, 1}
    assert [r["sample"] for r in got if r["burst"] == 0] == [0, 1, 2, 3]
    assert got[4]["burst_time"] == got[4]["time"]


def test_lisst_burst_mode_leading_partial(tmp_path, spark):
    """A record that starts mid-burst keeps its complete bursts; the
    leading fragment is dropped (regression: full-burst size must come
    from the maximal burst, not the first one)."""
    import pandas as pd

    from stglib_spark.sources.vendor_csv import read_lisst

    p = str(tmp_path / "lisst2.csv")
    times = []
    # leading fragment: 2 samples, then 2 full 4-sample bursts
    t0 = pd.Timestamp("2024-02-01 00:00:00")
    times += [t0 + pd.Timedelta(seconds=s) for s in (0, 1)]
    for b in range(2):
        tb = t0 + pd.Timedelta(seconds=60 * (b + 1))
        times += [tb + pd.Timedelta(seconds=s) for s in range(4)]
    rows = []
    for i, t in enumerate(times):
        vcs = ",".join(str(float(i)) for _ in range(36))
        rows.append(
            f"{vcs},{float(i)},2.0,3.0,4.0,5.0,6.0,"
            f"{t.year},{t.month},{t.day},{t.hour},{t.minute},{t.second}"
        )
    with open(p, "w") as f:
        f.write("\n".join(rows) + "\n")
    df = read_lisst(spark, p, {"operating_mode": "burst"})
    got = df.orderBy("burst", "sample").collect()
    assert len(got) == 8  # two full bursts survive, fragment dropped
    assert all(
        len([r for r in got if r["burst"] == b]) == 4
        for b in {r["burst"] for r in got}
    )


def test_hobo_us_timestamps(tmp_path, spark):
    """Real HOBOware exports use US-style 12-hour stamps; the reader must
    parse them, not silently drop every row."""
    from stglib_spark.sources.vendor_csv import read_hobo

    p = str(tmp_path / "hobo_us.csv")
    with open(p, "w") as f:
        f.write("1,06/20/18 01:00:00 PM,101.3,21.5\n")
        f.write("2,06/20/18 02:00:00 PM,101.4,21.6\n")
    rows = read_hobo(spark, p, {}).orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["time"].hour == 13
    assert rows[0]["P_1"] == pytest.approx(10.13)


def test_generic_csv_skiprows(tmp_path, spark):
    """csv_skiprows must actually skip the preamble (OSS Spark CSV has no
    such option; the reader strips lines per file before parsing)."""
    from stglib_spark.sources.csv import read_generic_csv

    p = str(tmp_path / "pre.csv")
    with open(p, "w") as f:
        f.write("junk preamble line\nmore junk\n")
        f.write("timestamp,temperature\n")
        f.write("2024-01-01 00:00:00,10.5\n2024-01-01 00:01:00,10.6\n")
    df = read_generic_csv(
        spark, p, {"csv_skiprows": 2, "time_col": "timestamp"}
    )
    rows = df.orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["time"].year == 2024
    assert rows[0]["T_28"] == pytest.approx(10.5)


def test_exo_builds_time_and_casts(tmp_path, spark):
    """The EXO reader must assemble a real time column from the KOR
    Date/Time columns and cast sensor columns to numbers."""
    from stglib_spark.sources.csv import read_exo_csv

    p = str(tmp_path / "exo.csv")
    with open(p, "w") as f:
        f.write("sn,12345\nsome preamble\n")
        f.write("Date (MM/DD/YYYY),Time (HH:mm:ss),Temp C,SpCond uS/cm\n")
        f.write("01/15/2024,10:30:00,18.2,42000\n")
        f.write("01/15/2024,10:45:00,18.3,42100\n")
    df = read_exo_csv(spark, p, {})
    rows = df.orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["time"].minute == 30
    assert rows[0]["Temp C"] == pytest.approx(18.2)
    assert isinstance(rows[1]["SpCond uS/cm"], float)
