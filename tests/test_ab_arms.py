"""Guard for the A/B harness in tools/ab_interleaved.py.

Every experiment patches engine module attributes or REGISTRY entries
and must leave the committed code in place once its STOCK_ARM is
re-applied. Applying both arms also runs every source-rewrite
transform, whose "changed nothing" assert fails when an arm has
drifted from the engine code it rewrites. No query runs and no Spark
job starts: the arms only build and swap functions.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

import automatic_etl_spark.plans.all_plans  # noqa: F401 — fills REGISTRY
from automatic_etl_spark.plans.registry import REGISTRY

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "ab_interleaved.py",
)


def _load_tool():
    spec = importlib.util.spec_from_file_location("ab_interleaved", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load_tool()
_MISSING = object()


def _engine_state() -> dict[tuple[str, str], object]:
    return {
        (mod_name, attr): value
        for mod_name, mod in list(sys.modules.items())
        if mod_name.startswith("automatic_etl_spark")
        for attr, value in vars(mod).items()
    }


@pytest.mark.parametrize("exp_name", sorted(ab.EXPERIMENTS))
def test_ab_arm_restores_committed_code(exp_name):
    set_a, set_b = ab.EXPERIMENTS[exp_name]
    before = _engine_state()
    registry_before = dict(REGISTRY)

    set_a()
    set_b()
    ab.restore_stock(exp_name)

    after = _engine_state()
    # arms may cache their originals/variants under new names; every
    # attribute that existed before must be the original object again
    changed = sorted(
        f"{mod_name}.{attr}"
        for (mod_name, attr), value in before.items()
        if after.get((mod_name, attr), _MISSING) is not value
    )
    assert not changed, f"{exp_name} left patched: {changed}"
    assert REGISTRY.keys() == registry_before.keys()
    swapped = sorted(q for q, entry in registry_before.items() if REGISTRY[q] != entry)
    assert not swapped, f"{exp_name} left REGISTRY entries swapped: {swapped}"
