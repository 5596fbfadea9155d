"""The traced benchmark run (``perfbench/run.py --trace 1``) wraps library
attributes by name: ``Tracer.install`` reads ``owner.__dict__[leaf]`` for
every entry of ``perfbench/tracing.WRAPPED``, so a renamed or moved
function makes every traced run crash. This resolves each entry the same
way, read-only."""

import importlib
import importlib.util
from pathlib import Path

import pytest

_TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _wrapped():
    spec = importlib.util.spec_from_file_location("_perfbench_tracing",
                                                  _TRACING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.WRAPPED


@pytest.mark.parametrize("mod_name,attr", [(m, a) for m, a, _ in _wrapped()])
def test_traced_attribute_resolves(mod_name, attr):
    owner = importlib.import_module(mod_name)
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    assert callable(getattr(owner, leaf))
    assert leaf in vars(owner), f"{mod_name}.{attr} is not defined on its owner"
