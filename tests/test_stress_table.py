"""The 10x stress axis (``tools/stress_sf1.py``) names registered
queries in its ``HEAVY`` table.  A renamed or removed gate must fail
here, in the fast suite, not hours into the next stress run."""

import importlib.util
import os

from filters_spark.plans.queries import REGISTRY

TOOL = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "stress_sf1.py")


def test_heavy_names_are_registered():
    spec = importlib.util.spec_from_file_location("stress_sf1", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)        # module level starts no session
    assert mod.HEAVY
    assert sorted(set(mod.HEAVY) - set(REGISTRY)) == []
