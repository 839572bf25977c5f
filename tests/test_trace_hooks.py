"""The engine functions perfbench/tracing.py wraps for ``--trace 1``
runs must keep resolving: a refactor that renames or moves one would
silently drop its spans (and the per-layer metrics built from them)."""

import importlib

from perfbench.tracing import COUNTED, REBIND, WRAPPED


def test_traced_and_counted_attributes_resolve():
    for mod, cls, attr, *_ in WRAPPED + COUNTED:
        owner = importlib.import_module(mod)
        if cls is not None:
            owner = getattr(owner, cls)
        assert callable(getattr(owner, attr, None)), (mod, cls, attr)


def test_rebound_names_resolve():
    for attr, mods in REBIND.items():
        for mod in mods:
            assert callable(getattr(importlib.import_module(mod), attr, None)), (
                mod, attr,
            )
