"""The benchmark's traced entry points exist in the package.

`perfbench/tracing.py` wraps every `ENTRY_POINTS` target when a run
asks for `--trace 1`; a refactor that renames or moves one of them
would only fail there, at `Tracer.install`. This resolves each target
the same way, without a Spark session.
"""

import importlib
import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_trace_entry_points_resolve():
    sys.path.insert(0, PERFBENCH)
    try:
        import tracing
    finally:
        sys.path.remove(PERFBENCH)
    assert tracing.ENTRY_POINTS
    for modname, qual in tracing.ENTRY_POINTS:
        target = importlib.import_module(modname)
        for part in qual.split("."):
            target = getattr(target, part)
        assert callable(target), f"{modname}.{qual}"
