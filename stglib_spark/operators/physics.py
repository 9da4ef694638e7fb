"""Physical derivations — pressure/depth, salinity/conductance, SSC,
water level — all native Column math.

Reference semantics:
- ``pres2dep`` seawater depth from pressure (``core/utils.py:1926-1985``,
  gsw TEOS-10). The exact-TEOS path needs the gsw library; the engine
  implements the UNESCO/simplified constant-density fallback natively and
  fences exact TEOS-10 behind an optional import.
- ``create_water_depth_var`` (``utils.py:1052-1100``),
  ``create_water_level_var`` (``utils.py:1650-1712``).
- ``salinity_from_spcon`` / ``spcon_from_salinity`` Schemel polynomials
  (``utils.py:1494-1532``).
- ``turbidity_to_ssc`` linear calibration (``utils.py:2006-2041``).
- transfer function Kp = cosh(k·z)/cosh(k·h) (``core/waves.py:778-803``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

G = 9.81


def pres2dep_simple(pressure_dbar: Column) -> Column:
    """Pressure (dbar) → depth (m) with constant density:
    dep = P·1e4 / (ρ·g) — the reference's structure (utils.py:1966-1978)
    with ρ(S,T,P) frozen to 1025 kg/m³ (its ``average_salinity`` scalar
    path)."""
    return pressure_dbar * 1.0e4 / (F.lit(1025.0) * F.lit(G))


def water_depth(dep: Column, instrument_height: float) -> Column:
    """water_depth = burst-mean depth + initial_instrument_height
    (utils.py:1052-1100) — caller supplies the burst-mean dep column."""
    return dep + F.lit(float(instrument_height))


def water_level(dep: Column, z_navd88: float) -> Column:
    """water_level = dep + z(NAVD88) (utils.py:1650-1712)."""
    return dep + F.lit(float(z_navd88))


def salinity_from_spcon(spcon_uscm: Column) -> Column:
    """Schemel (2001) practical salinity from specific conductance (µS/cm)
    (utils.py:1494-1513): S = K1 + K2·R^½ + K3·R + K4·R^1.5 + K5·R² +
    K6·R^2.5 with R = spcon/53087."""
    r = spcon_uscm / 53087.0
    return (
        F.lit(0.0120)
        + F.lit(-0.2174) * F.pow(r, 0.5)
        + F.lit(25.3283) * r
        + F.lit(13.7714) * F.pow(r, 1.5)
        + F.lit(-6.4788) * F.pow(r, 2.0)
        + F.lit(2.5842) * F.pow(r, 2.5)
    )


def spcon_from_salinity(sal: Column) -> Column:
    """Specific conductance (µS/cm) from salinity (utils.py:1516-1532,
    Schemel 2001): S/35·53087 + S·(S−35)·(J1 + J2·S^½ + J3·S + J4·S^1.5)."""
    s = sal
    return s / 35.0 * 53087.0 + s * (s - 35.0) * (
        F.lit(-16.072)
        + F.lit(4.1495) * F.pow(s, 0.5)
        + F.lit(-0.5345) * s
        + F.lit(0.0261) * F.pow(s, 1.5)
    )


def turbidity_to_ssc(turb: Column, coefs: list[float]) -> Column:
    """ssc = polyval(coefs, turb), highest-order first
    (utils.py:2006-2041)."""
    out: Column = F.lit(float(coefs[0]))
    for c in coefs[1:]:
        out = out * turb + F.lit(float(c))
    return out


def make_bin_depth(
    pressure: Column, bindist: Column, orientation: str = "UP"
) -> Column:
    """bin_depth = P + bindist (DOWN) / P − bindist (UP)
    (aqd/aqdutils.py:337-369; the waves variant passes the burst-mean
    pressure column instead)."""
    if orientation.upper() == "DOWN":
        return pressure + bindist
    return pressure - bindist


def create_z(config: dict, bindist: Column | None = None) -> Column:
    """z coordinate relative to the geopotential datum
    (core/utils.py:1178-1205): z = hagd + initial_instrument_height ±
    bindist (UP adds, DOWN subtracts; scalar when no profile dim)."""
    # is-not-None chain: a legitimate datum of 0.0 must not fall through
    hagd = config.get("NAVD88_ref")
    if hagd is None:
        hagd = config.get("height_above_geopotential_datum")
    hagd = float(hagd) if hagd is not None else 0.0
    iih = float(config["initial_instrument_height"])
    base = F.lit(hagd + iih)
    if bindist is None:
        return base
    if str(config.get("orientation", "UP")).upper() == "DOWN":
        return base - bindist
    return base + bindist


def create_depth(config: dict, bindist: Column | None = None) -> Column:
    """depth coordinate below the sea-floor reference
    (core/utils.py:1227-1262): depth = WATER_DEPTH − iih ± bindist
    (DOWN adds bindist, UP subtracts)."""
    wd = None
    for name in (
        "sea_floor_depth_below_geoid",
        "sea_floor_depth_below_geopotential_datum",
        "sea_floor_depth_below_mean_sea_level",
        "sea_floor_depth_below_reference_ellipsoid",
        "sea_floor_depth_below_sea_surface",
        "WATER_DEPTH",
    ):
        if name in config:
            wd = float(config[name])
            break
    if wd is None:
        raise KeyError("no sea-floor depth attribute in config")
    iih = float(config["initial_instrument_height"])
    base = F.lit(wd - iih)
    if bindist is None:
        return base
    if str(config.get("orientation", "UP")).upper() == "DOWN":
        return base + bindist
    return base - bindist


def boundary_elevation(
    brange: Column, config: dict
) -> Column:
    """Seabed elevation referenced to a datum (eofe.py:418-519), rounded
    to mm:
      datum given (NAVD88_ref / height_above_geopotential_datum):
        DOWN: datum − brange + iih     UP: datum + brange + iih
      no datum (LMSL, positive down):
        DOWN: WATER_DEPTH + brange − iih   UP: WATER_DEPTH − brange − iih
    """
    iih = float(config["initial_instrument_height"])
    down = str(config.get("orientation", "UP")).upper() == "DOWN"
    datum = config.get("NAVD88_ref", config.get("height_above_geopotential_datum"))
    if datum is not None:
        sign = -1.0 if down else 1.0
        out = F.lit(float(datum)) + brange * F.lit(sign) + F.lit(iih)
    else:
        wd = float(config["WATER_DEPTH"])
        sign = 1.0 if down else -1.0
        out = F.lit(wd) + brange * F.lit(sign) - F.lit(iih)
    # eofe.py:510 rounds with xarray/numpy HALF-EVEN — bround, not
    # Spark's half-up round (diverges on representable mm ties)
    return F.bround(out, 3)


def _density_sql(s: str, t: str, p_dbar: str) -> str:
    """UNESCO EOS-80 density ρ(S, T, p) as a SQL expression string (valid
    in both Spark SQL and DuckDB — used verbatim by the engine AND the
    oracle so the arithmetic is bit-identical).

    Fofonoff & Millard (1983) one-atmosphere density + secant bulk
    modulus; p in dbar (converted to bar inside). Mirrors the reference's
    gsw density step in ``pres2dep`` (utils.py:1926-1985) with the public
    EOS-80 formulation in place of TEOS-10 (differences < 0.05 kg/m³ over
    oceanographic ranges)."""
    rho_w = (
        f"(999.842594 + 6.793952e-2*{t} - 9.095290e-3*{t}*{t}"
        f" + 1.001685e-4*{t}*{t}*{t} - 1.120083e-6*{t}*{t}*{t}*{t}"
        f" + 6.536332e-9*{t}*{t}*{t}*{t}*{t})"
    )
    rho_0 = (
        f"({rho_w}"
        f" + {s}*(8.24493e-1 - 4.0899e-3*{t} + 7.6438e-5*{t}*{t}"
        f"        - 8.2467e-7*{t}*{t}*{t} + 5.3875e-9*{t}*{t}*{t}*{t})"
        f" + power({s}, 1.5)*(-5.72466e-3 + 1.0227e-4*{t} - 1.6546e-6*{t}*{t})"
        f" + 4.8314e-4*{s}*{s})"
    )
    kw = (
        f"(19652.21 + 148.4206*{t} - 2.327105*{t}*{t}"
        f" + 1.360477e-2*{t}*{t}*{t} - 5.155288e-5*{t}*{t}*{t}*{t})"
    )
    k0 = (
        f"({kw}"
        f" + {s}*(54.6746 - 0.603459*{t} + 1.09987e-2*{t}*{t} - 6.1670e-5*{t}*{t}*{t})"
        f" + power({s}, 1.5)*(7.944e-2 + 1.6483e-2*{t} - 5.3009e-4*{t}*{t}))"
    )
    aa = (
        f"((3.239908 + 1.43713e-3*{t} + 1.16092e-4*{t}*{t} - 5.77905e-7*{t}*{t}*{t})"
        f" + {s}*(2.2838e-3 - 1.0981e-5*{t} - 1.6078e-6*{t}*{t})"
        f" + 1.91075e-4*power({s}, 1.5))"
    )
    bb = (
        f"((8.50935e-5 - 6.12293e-6*{t} + 5.2787e-8*{t}*{t})"
        f" + {s}*(-9.9348e-7 + 2.0816e-8*{t} + 9.1697e-10*{t}*{t}))"
    )
    pb = f"({p_dbar}/10.0)"
    k = f"({k0} + {aa}*{pb} + {bb}*{pb}*{pb})"
    return f"({rho_0} / (1.0 - {pb}/{k}))"


def _gravity_sql(lat: str) -> str:
    """UNESCO gravity g(latitude) SQL expression (same dual-engine use)."""
    sin2 = f"(sin(radians({lat}))*sin(radians({lat})))"
    return f"(9.780318*(1.0 + 5.2788e-3*{sin2} + 2.36e-5*{sin2}*{sin2}))"


def pres2dep_sql(p_dbar: str, s: str, t: str, lat: str) -> str:
    """Full pressure→depth SQL expression: dep = P·1e4 / (ρ(S,T,P)·g(lat))
    — the reference's pres2dep structure (utils.py:1966-1978) with EOS-80
    density. Use with ``F.expr`` engine-side and verbatim in the oracle."""
    return f"({p_dbar}*1.0e4 / ({_density_sql(s, t, p_dbar)} * {_gravity_sql(lat)}))"


def pres2dep_full(
    df: DataFrame,
    pressure_col: str,
    salinity_col: str,
    temperature_col: str,
    latitude: float,
) -> DataFrame:
    """pres2dep with EOS-80 density and latitude gravity
    (utils.py:1926-1985; the scalar-salinity fallback path is
    ``pres2dep_simple``)."""
    from pyspark.sql import functions as _F

    expr = pres2dep_sql(pressure_col, salinity_col, temperature_col, repr(latitude))
    return df.withColumn("depth_m", _F.expr(expr))


def troll_salinity_sql(t: str, ac: str, full: bool = False) -> str:
    """Aqua-TROLL practical salinity from temperature + actual
    conductivity (µS/cm) as dual-engine SQL text (troll.py:307-392,
    In-Situ tech-note coefficients).

    NOTE: the reference's ``compute_S`` contains dead code — the
    temperature-correction b-polynomial and the two rational correction
    terms sit AFTER the ``return`` statement (troll.py:374-389) and never
    execute, so the reference returns only the a-polynomial. ``full=False``
    (default) reproduces that actual behavior for parity; ``full=True``
    evaluates the complete tech-note formula."""
    rt = f"({ac} / (29752.63 + 830.5102*{t} + 3.429338*{t}*{t} - 0.02193934*{t}*{t}*{t}))"
    a_poly = (
        f"(0.0080 - 0.1692*power({rt}, 0.5) + 25.3851*{rt}"
        f" + 14.0941*power({rt}, 1.5) - 7.0261*{rt}*{rt}"
        f" + 2.7081*power({rt}, 2.5))"
    )
    if not full:
        return a_poly
    ft = f"(({t} - 15.0) / (1.0 + 0.0162*({t} - 15.0)))"
    b_poly = (
        f"(0.0005 - 0.0056*power({rt}, 0.5) - 0.0066*{rt}"
        f" - 0.0375*power({rt}, 1.5) + 0.0636*{rt}*{rt}"
        f" - 0.0144*power({rt}, 2.5))"
    )
    x = f"(400.0*{rt})"
    y = f"(100.0*{rt})"
    return (
        f"({a_poly} + {ft}*{b_poly}"
        f" - 0.0080/(1.0 + 1.5*{x} + {x}*{x})"
        f" - 0.0005*{ft}/(1.0 + power({y}, 0.5) + power({y}, 1.5)))"
    )
