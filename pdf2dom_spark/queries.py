"""Driver-gate registry: the domain registries, merged in registry order.

The queries themselves live in the domain modules (qkernel: full-kernel
cross-engine gates; qunits: per-unit gates); this module merges their
registries in that order for ``__spark_entry__``.
"""

from __future__ import annotations

from . import qkernel, qunits


def _merge(*regs: dict) -> dict:
    out: dict = {}
    for reg in regs:
        dup = out.keys() & reg.keys()
        assert not dup, f"duplicate query names across registries: {dup}"
        out.update(reg)
    return out


REGISTRY: dict = _merge(qkernel.REGISTRY, qunits.REGISTRY)
ORACLES: dict = _merge(qkernel.ORACLES, qunits.ORACLES)


def all_queries() -> dict:
    return dict(REGISTRY)


def all_oracles() -> dict[str, str]:
    return dict(ORACLES)
