"""Check registry.

Each check module exposes ``run(v: OsmViews) -> DataFrame`` taking the
*tiled* relational views and returning _tmp_errors-shaped rows
(errors.ERROR_COLS).  Error numbering follows the reference
(config/error_types.php): check N owns the decade N..N+9, subtypes are
N + additivum.  A module whose types leave its decade declares the
inclusive range it owns as ``OWNS`` (0190: crossings 191-198, overlaps
201-208).
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame

from ..codec import OsmViews

# check id → module name (populated as checks land)
_CHECK_MODULES = {
    20: "check_0020",
    30: "check_0030",
    40: "check_0040",
    50: "check_0050",
    60: "check_0060",
    70: "check_0070",
    90: "check_0090",
    100: "check_0100",
    110: "check_0110",
    120: "check_0120",
    130: "check_0130",
    150: "check_0150",
    160: "check_0160",
    170: "check_0170",
    180: "check_0180",
    190: "check_0190",
    210: "check_0210",
    220: "check_0220",
    230: "check_0230",
    270: "check_0270",
    280: "check_0280",
    290: "check_0290",
    300: "check_0300",
    310: "check_0310",
    320: "check_0320",
    350: "check_0350",
    360: "check_0360",
    370: "check_0370",
    380: "check_0380",
    390: "check_0390",
    400: "check_0400",
    420: "check_0420",
}


def available_checks() -> dict[int, Callable[[OsmViews], DataFrame]]:
    """All implemented checks (modules that import cleanly)."""
    out = {}
    for cid, mod_name in _CHECK_MODULES.items():
        try:
            mod = import_module(f".{mod_name}", __package__)
        except ImportError:
            continue
        out[cid] = mod.run
    return out


def check_emits(check_ids=None) -> set[str]:
    """Union of object types the given checks can emit — lets
    error_view resolution prune unused per-type join branches (the
    relation branch in particular windows over all of way_nodes)."""
    ids = list(_CHECK_MODULES) if check_ids is None else check_ids
    types: set[str] = set()
    for cid in ids:
        mod_name = _CHECK_MODULES.get(cid)
        if mod_name is None:
            continue
        try:
            mod = import_module(f".{mod_name}", __package__)
        except ImportError:
            continue
        types |= set(getattr(mod, "EMITS", ("node", "way", "relation")))
    return types


def owned_types(cid: int) -> tuple[int, int]:
    """Inclusive error_type range check ``cid`` owns: the span a
    partial run clears when the check's errors vanish."""
    mod_name = _CHECK_MODULES.get(cid)
    mod = import_module(f".{mod_name}", __package__) if mod_name else None
    return getattr(mod, "OWNS", (cid, cid + 9))

