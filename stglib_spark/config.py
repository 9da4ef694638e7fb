"""Declarative config surface — the engine's "query language".

Mirrors the reference's two-file config IR (global attributes file + YAML
instrument config merged into one flat metadata dict) that drives every
downstream operator. Reference semantics: gatts parsing at
``stglib/core/utils.py:1580-1609`` (``;``-delimited ``key; value`` lines,
numeric coercion via str2num), YAML-over-gatts merge with collision warning
at ``stglib/core/runcmd.py:8-27``.

The resulting dict is consumed by the QA/QC rule compiler
(:mod:`stglib_spark.operators.qaqc`), clip (:mod:`stglib_spark.operators.clip`),
time ops, and wave parameters — exactly as stglib's attrs drive its pipeline.
"""

from __future__ import annotations

import logging
import warnings
from typing import Any

logger = logging.getLogger(__name__)


def str2num(s: str) -> Any:
    """Coerce a config string to int/float when possible (utils.py:1600-1609)."""
    if not isinstance(s, str):
        return s
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return s


def read_globalatts(path: str) -> dict[str, Any]:
    """Parse a ``;``-delimited global-attributes file → flat dict.

    Semantics of ``stglib/core/utils.py:1580-1609``: each line is
    ``key; value``; values are numerically coerced; ``title`` keeps its
    raw string form.
    """
    metadata: dict[str, Any] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or ";" not in line:
                continue
            key, _, value = line.partition(";")
            key, value = key.strip(), value.strip()
            metadata[key] = value if key == "title" else str2num(value)
    return metadata


def merge_config(gatts: dict[str, Any], yaml_config: dict[str, Any]) -> dict[str, Any]:
    """YAML config wins over gatts; warn on collisions (runcmd.py:8-27)."""
    merged = dict(gatts)
    for key, value in yaml_config.items():
        if key in merged and merged[key] != value:
            warnings.warn(
                f"config collision for '{key}': gatts={merged[key]!r} "
                f"overridden by yaml={value!r}",
                stacklevel=2,
            )
        merged[key] = value
    return merged


def load_config(gatts_path: str | None = None, yaml_path: str | None = None) -> dict[str, Any]:
    """Full config load: gatts file + YAML file → merged metadata dict."""
    gatts = read_globalatts(gatts_path) if gatts_path else {}
    yaml_config: dict[str, Any] = {}
    if yaml_path:
        import yaml

        with open(yaml_path, encoding="utf-8") as f:
            yaml_config = yaml.safe_load(f) or {}
    return merge_config(gatts, yaml_config)


#: gatts keys the reference hard-requires before any processing
#: (core/utils.py:1572-1577 check_valid_globalatts_metadata)
REQUIRED_GLOBALATTS = ("WATER_DEPTH", "latitude", "longitude", "MOORING")


def check_globalatts(metadata: dict[str, Any], strict: bool = False) -> list[str]:
    """The reference's pre-flight metadata gate
    (utils.py:1572-1577): WATER_DEPTH / latitude / longitude / MOORING
    must be defined, most likely in the global attributes file. Returns
    the missing keys; ``strict=True`` reproduces the reference's raise.
    The CLI runs this non-strict and warns, so synthetic/partial
    configs still process while real deployments see the same message
    the reference users do."""
    missing = [k for k in REQUIRED_GLOBALATTS if k not in metadata]
    if missing and strict:
        raise KeyError(
            f"{missing[0]} must be defined, most likely in global "
            "attributes file"
        )
    return missing


class History:
    """Append-only processing-history log (utils.py:238-250 insert_history)
    plus per-variable notes with affected counts (utils.py:1361-1373)."""

    def __init__(self) -> None:
        self.entries: list[str] = []
        self.notes: dict[str, list[str]] = {}

    def insert_history(self, message: str) -> None:
        self.entries.append(message)

    def insert_note(self, var: str, message: str) -> None:
        self.notes.setdefault(var, []).append(message)

    def copy(self) -> "History":
        """An independent copy: entries added to either side later do not
        reach the other."""
        other = History()
        other.entries = list(self.entries)
        other.notes = {k: list(v) for k, v in self.notes.items()}
        return other
