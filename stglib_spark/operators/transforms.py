"""Coordinate transforms & direction conversions — all native Columns.

Reference semantics:
- heading/pitch/roll rotation matrices, Nortek convention (h−90°)
  (``stglib/aqd/aqdutils.py:133-153``).
- BEAM↔XYZ↔ENU transform R = H·P·T with DOWN-orientation sign flips of
  T rows 2,3 (``aqd/aqdutils.py:156-214``, ``:290-294``; point-velocity
  variant ``core/transform.py:8-177``). Golden-tested against Nortek's
  MATLAB example (``tests/test_stglib.py:76-261``).
- magnetic declination rotation (``aqd/aqdutils.py:372-432``).
- speed/direction ↔ u/v compass conversions (``core/utils.py:1881-1904``),
  polar↔compass (``core/waves.py:964-985``).

Spark-first: a 3×3 mat-vec is nine fused multiply-adds per output
component — plain Column arithmetic that stays inside whole-stage codegen;
no UDF, no shuffle.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def spd2uv(speed: Column, direction_deg: Column) -> tuple[Column, Column]:
    """Speed/compass-direction → (east, north) components
    (utils.py:1881-1893): u = spd·sin(dir), v = spd·cos(dir)."""
    rad = F.radians(direction_deg)
    return speed * F.sin(rad), speed * F.cos(rad)


def uv2spd(u: Column, v: Column) -> tuple[Column, Column]:
    """(u, v) → speed and compass direction [0,360)
    (utils.py:1896-1904)."""
    spd = F.sqrt(u * u + v * v)
    direction = (F.degrees(F.atan2(u, v)) + 360.0) % 360.0
    return spd, direction


def polar2compass(polar_deg: Column) -> Column:
    """Math-polar (CCW from east) → compass (CW from north)
    (core/waves.py:964-974): (90 − θ) mod 360."""
    return (F.lit(90.0) - polar_deg + 360.0) % 360.0


def to2from(direction_deg: Column) -> Column:
    """Direction-to ↔ direction-from flip (core/waves.py:977-985)."""
    return (direction_deg + 180.0) % 360.0


def magvar_rotate(
    u: Column, v: Column, magvar_deg: float
) -> tuple[Column, Column]:
    """Rotate horizontal velocity by magnetic declination
    (aqd/aqdutils.py:427-432): standard 2-D rotation by +magvar."""
    th = math.radians(magvar_deg)
    cos_t, sin_t = math.cos(th), math.sin(th)
    return u * cos_t + v * sin_t, -u * sin_t + v * cos_t


def magvar_correct_heading(heading: Column, magvar_deg: float) -> Column:
    """heading += declination, mod 360 (aqd/aqdutils.py:372-426)."""
    return (heading + F.lit(magvar_deg) + 360.0) % 360.0


def wind_dir_correct(
    direction: Column,
    time: Column,
    magnetic_variation: float,
    dir_offset: float | None = None,
    dir_offset_time: str | None = None,
) -> Column:
    """Met-station wind-direction correction (met.py:100-162): optional
    sensor-misalignment offset — applied from ``dir_offset_time`` onward
    when given, else to the whole series — then magnetic→true rotation,
    rounded to whole degrees, wrapped to [0, 360)."""
    d = direction
    if dir_offset is not None:
        off = F.lit(float(dir_offset))
        if dir_offset_time is not None:
            d = F.when(time < F.lit(dir_offset_time).cast("timestamp"), d).otherwise(
                d + off
            )
        else:
            d = d + off
    # met.py:150 .round(0) is numpy HALF-EVEN: with a .5-ending
    # declination every second degree ties, and half-up would be
    # wrong on all the even ones — bround
    d = F.bround(d + F.lit(float(magnetic_variation)), 0)
    return F.pmod(d, F.lit(360.0))


def beam2enu_columns(
    beam_cols: Sequence[Column],
    heading: Column,
    pitch: Column,
    roll: Column,
    trans_matrix: Sequence[Sequence[float]],
    orientation_down: bool = False,
) -> list[Column]:
    """BEAM → ENU as explicit column expressions.

    aqd/aqdutils.py:156-214: R = H·P·T where H uses (heading − 90°) per
    Nortek convention, P is the pitch/roll matrix, T the per-instrument
    beam-to-XYZ matrix; DOWN orientation negates T rows 2 and 3
    (aqdutils.py:290-294). Returns [east, north, up] Columns — a handful
    of multiply-adds each, fully codegen'd; no UDF.

    Supports 3-beam (Aquadopp 3×3) AND 4-beam (Signature/RDI) matrices:
    a 4×4 ``Beam2xyz`` (sig_mat.parse_sig_file / pd0_transform_matrix)
    contributes its first three rows — X, Y, Z; the fourth is the error
    velocity and does not rotate (sig/cdf2nc.py Beam2xyz application).
    ``beam_cols`` must match the matrix column count.
    """
    T = [list(row) for row in trans_matrix][:3]  # XYZ rows only
    nb = len(T[0])
    if len(beam_cols) != nb:
        raise ValueError(
            f"{len(beam_cols)} beam columns for a {nb}-beam matrix"
        )
    if orientation_down:
        T[1] = [-x for x in T[1]]
        T[2] = [-x for x in T[2]]

    hh = F.radians(heading - 90.0)
    pp = F.radians(pitch)
    rr = F.radians(roll)

    ch, sh = F.cos(hh), F.sin(hh)
    cp, sp = F.cos(pp), F.sin(pp)
    cr, sr = F.cos(rr), F.sin(rr)

    # H = [[ch, sh, 0], [-sh, ch, 0], [0, 0, 1]]
    H = [[ch, sh, F.lit(0.0)], [-sh, ch, F.lit(0.0)], [F.lit(0.0), F.lit(0.0), F.lit(1.0)]]
    # P (Nortek pitch/roll matrix, aqdutils.py:146-153)
    P = [
        [cp, -sp * sr, -sp * cr],
        [F.lit(0.0), cr, -sr],
        [sp, cp * sr, cp * cr],
    ]

    def matmul_cc(
        A: list[list[Column]], B: list[list[Column]]
    ) -> list[list[Column]]:
        cols = len(B[0])
        return [
            [
                sum((A[i][k] * B[k][j] for k in range(len(B))), F.lit(0.0))
                for j in range(cols)
            ]
            for i in range(3)
        ]

    T_cols = [[F.lit(float(x)) for x in row] for row in T]
    R = matmul_cc(matmul_cc(H, P), T_cols)  # 3 × nb

    return [
        sum((R[i][k] * beam_cols[k] for k in range(nb)), F.lit(0.0))
        for i in range(3)
    ]


def xyz2enu_columns(
    xyz_cols: Sequence[Column],
    heading: Column,
    pitch: Column,
    roll: Column,
    orientation_down: bool = False,
) -> list[Column]:
    """XYZ → ENU: same R = H·P but without the beam matrix
    (aqd/aqdutils.py:186-195: XYZ case first un-applies T then applies R;
    equivalently applies H·P to xyz with the DOWN flip on x2,x3)."""
    x, y, z = xyz_cols
    if orientation_down:
        y, z = -y, -z
    identity = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    return beam2enu_columns([x, y, z], heading, pitch, roll, identity, False)


def enu2beam_columns(
    enu_cols: Sequence[Column],
    heading: Column,
    pitch: Column,
    roll: Column,
    trans_matrix: Sequence[Sequence[float]],
    orientation_down: bool = False,
) -> list[Column]:
    """ENU → BEAM via R⁻¹ (aqd/aqdutils.py:199-206). R is orthonormal in
    H·P but T is not, so invert T numerically at plan time (3×3 constant)
    and use Rᵀ-for-rotation · T⁻¹ — expressed, like the forward path, as
    constant-folded column arithmetic."""
    import numpy as np

    T = np.array(trans_matrix, dtype=float)
    if orientation_down:
        T[1] *= -1
        T[2] *= -1
    Tinv = np.linalg.inv(T)

    hh = F.radians(heading - 90.0)
    pp = F.radians(pitch)
    rr = F.radians(roll)
    ch, sh = F.cos(hh), F.sin(hh)
    cp, sp = F.cos(pp), F.sin(pp)
    cr, sr = F.cos(rr), F.sin(rr)

    H = [[ch, sh, F.lit(0.0)], [-sh, ch, F.lit(0.0)], [F.lit(0.0), F.lit(0.0), F.lit(1.0)]]
    P = [
        [cp, -sp * sr, -sp * cr],
        [F.lit(0.0), cr, -sr],
        [sp, cp * sr, cp * cr],
    ]

    def matmul_cc(A, B):
        return [
            [sum((A[i][k] * B[k][j] for k in range(3)), F.lit(0.0)) for j in range(3)]
            for i in range(3)
        ]

    def transpose(A):
        return [[A[j][i] for j in range(3)] for i in range(3)]

    HP_t = transpose(matmul_cc(H, P))  # (H·P)⁻¹ = (H·P)ᵀ (orthonormal)
    Tinv_cols = [[F.lit(float(x)) for x in row] for row in Tinv]
    Rinv = matmul_cc(Tinv_cols, HP_t)  # (H·P·T)⁻¹ = T⁻¹·(H·P)ᵀ
    return [
        sum((Rinv[i][k] * enu_cols[k] for k in range(3)), F.lit(0.0)) for i in range(3)
    ]


def transform_velocities(
    df: DataFrame,
    config: dict,
    vel_cols: Sequence[str] = ("vel1", "vel2", "vel3"),
    heading_col: str = "Heading",
    pitch_col: str = "Pitch",
    roll_col: str = "Roll",
) -> DataFrame:
    """Config-driven coordinate transform + magvar rotation, mirroring the
    cdf2nc velocity path (aqd/cdf2nc.py:60-80): BEAM or XYZ → ENU, then
    declination rotation of (u, v)."""
    system = str(config.get("AQDCoordinateSystem", "BEAM")).upper()
    tm = config.get("TransMatrix")
    down = str(config.get("orientation", "UP")).upper() == "DOWN"
    h, p, r = F.col(heading_col), F.col(pitch_col), F.col(roll_col)
    beams = [F.col(c) for c in vel_cols]
    if system == "BEAM":
        enu = beam2enu_columns(beams, h, p, r, tm, down)
    elif system == "XYZ":
        enu = xyz2enu_columns(beams, h, p, r, down)
    elif system == "ENU":
        enu = list(beams)
    else:
        raise ValueError(f"unknown coordinate system {system}")
    magvar = float(config.get("magnetic_variation", 0.0) or 0.0)
    u, v = magvar_rotate(enu[0], enu[1], magvar) if magvar else (enu[0], enu[1])
    return (
        df.withColumn("u_1205", u)
        .withColumn("v_1206", v)
        .withColumn("w_1204", enu[2])
    )
