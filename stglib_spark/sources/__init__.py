"""Ingest adapters (the reference's ``*2cdf`` stage, SURVEY §2.1).

The reference registers ~60 (instrument, step) pairs in
``stglib/core/runcmd.py:527-599``; each ingest step parses a vendor format
into the raw zone. Here each adapter is a function
``(spark, path, config) -> DataFrame`` registered by instrument name; the
raw zone is Parquet (netCDF only at the edge).

Adapter rules:
- header sniffing / config parsing happens at the DRIVER (small);
- bulk rows go through ``spark.read.csv`` / ``binaryFile`` +
  ``mapPartitions`` so ingest scales with the cluster, never through a
  driver-side pandas materialization;
- vendor→EPIC column renames (rsk/csv2cdf.py:295-327) are select-aliases
  applied at ingest so every later stage sees canonical names.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

ADAPTERS: dict[str, Callable[..., DataFrame]] = {}


def register_adapter(name: str):
    def deco(fn):
        ADAPTERS[name] = fn
        return fn

    return deco


def ingest(
    spark: SparkSession, instrument: str, path: str, config: dict[str, Any]
) -> DataFrame:
    """Dispatch to the instrument adapter (runcmd.py:602-613 dispatch)."""
    if instrument not in ADAPTERS:
        raise KeyError(
            f"no ingest adapter for {instrument!r}; available: {sorted(ADAPTERS)}"
        )
    return ADAPTERS[instrument](spark, path, config)


from stglib_spark.sources import csv as _csv  # noqa: E402,F401  (registers adapters)
from stglib_spark.sources import netcdf as _netcdf  # noqa: E402,F401
from stglib_spark.sources import vendor_csv as _vendor_csv  # noqa: E402,F401


@register_adapter("rdi_pd0")
def _rdi_pd0(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.pd0 import read_pd0

    return read_pd0(spark, path)


@register_adapter("sg_wb")
def _sg_wb(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.sg import read_sg_wb

    return read_sg_wb(spark, path)


@register_adapter("son_81r")
def _son_81r(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.son import assign_sweep_sets, read_81r

    # file-name sweep-set grouping (raw2cdf.py:145-205): sets → time
    # steps, sweeps dense-ranked, incomplete trailing sets trimmed
    return assign_sweep_sets(read_81r(spark, path))


@register_adapter("mat")
def _mat(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.matfile import read_mat

    return read_mat(spark, path)


@register_adapter("eofe")
def _eofe(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.eofe import read_ea_instmeta, read_ea_profile

    meta = dict(config.get("instmeta") or read_ea_instmeta(path))
    return read_ea_profile(spark, path, meta)


@register_adapter("qrev")
def _qrev(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.qrev import read_qrev_xml

    return read_qrev_xml(spark, path, negateq=config.get("negateq", False))


@register_adapter("sig")
def _sig(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Signature multi-group .mat ingest (sig/mat2cdf.py:22-710). One
    group per raw zone in the reference; the adapter returns the group
    named by config['sig_group'] (ftype spelling: burst/iburst/echo1/
    avgd/…), default burst. read_signature_mat exposes all groups."""
    from stglib_spark.sources.sig_mat import read_signature_mat

    groups = read_signature_mat(spark, path, config)
    want = (config or {}).get("sig_group", "burst")
    if want not in groups:
        raise KeyError(
            f"Signature group {want!r} not present; found {sorted(groups)}"
        )
    return groups[want]


@register_adapter("rdi")
def _rdi(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """TRDI WinRiver .mat export (rdi/mat2cdf.py:12-227): long (time,bin)
    frame with E/N/U1/U2 velocity components, per-beam int/corr/pg, EPIC
    sensor names. Raw PD0 binary stays on 'rdi_pd0'."""
    from stglib_spark.sources.rdi_mat import read_rdi_mat

    return read_rdi_mat(spark, path, config)


@register_adapter("abss")
def _abss(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """AQUAscat1000R burst .mat ingest (abss.py:14-233): long
    (time, bin, transducer) backscatter frame."""
    from stglib_spark.sources.abss_mat import read_abss

    return read_abss(spark, path, config)


@register_adapter("iq")
def _iq(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """SonTek-IQ .mat export (iq.py:172-446): epoch-2000 µs time axis,
    VelXYZ channel split, per-beam SNR/noise spread, Data_Units carry."""
    from stglib_spark.sources.iq_mat import read_iq_mat

    return read_iq_mat(spark, path, config)


@register_adapter("aqd")
def _aqd(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.aqd import read_aquadopp

    return read_aquadopp(spark, path, config)


@register_adapter("aqdhr")
def _aqdhr(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.aqd import read_aquadopp_hr

    return read_aquadopp_hr(spark, path, config)


@register_adapter("vec")
def _vec(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.aqd import read_vector

    return read_vector(spark, path, config)


@register_adapter("rbr_rsk")
def _rbr_rsk(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.rsk import read_rsk

    return read_rsk(
        spark,
        path,
        channels=config.get("rsk_channels"),
        table=config.get("rsk_table", "data"),
    )


@register_adapter("aqd_wad")
def _aqd_wad(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.aqd import read_aquadopp_waves

    return read_aquadopp_waves(spark, path, config)


@register_adapter("sg_tid")
def _sg_tid(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    from stglib_spark.sources.sg import read_sg_tid

    return read_sg_tid(spark, path)


# Reference instrument names (runcmd.py:527-599) → adapter names, so the
# CLI accepts the same spellings a stglib user types (``runots sig
# mat2cdf`` etc.). Ambiguous families default to the most common member;
# the specific adapter names remain available.
INSTRUMENT_ALIASES: dict[str, str] = {
    "aqdwvs": "aqd_wad",
    "wvs": "aqd_wad",
    "rbr": "rbr_csv",
    "rsk": "rbr_rsk",
    "exo": "exo_csv",
    "eco": "eco_ntu",
    "met": "met_campbell",
    "sgtid": "sg_tid",
    "sgwvs": "sg_wb",
    "son": "son_81r",
}


def resolve_instrument(name: str) -> str:
    """Adapter name for a CLI instrument: exact adapter names win,
    reference spellings map through INSTRUMENT_ALIASES."""
    if name in ADAPTERS:
        return name
    return INSTRUMENT_ALIASES.get(name, name)
