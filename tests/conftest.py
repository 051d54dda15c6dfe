"""Shared fixtures.

``refmod`` imports the reference implementation's pure-function modules
(read-only checkout) for differential testing, and skips the test when
they are not importable: golden values frozen from the engine
(fixtures/engine_golden.json) then carry the same input matrices. Two of
the reference's deps are absent here and get stubbed:

- ``jellyfish``  -> our own unrestricted Damerau-Levenshtein. This makes
  the D-L *pipeline* differential (street_compare etc. around it) while
  D-L itself is property-tested against an independent brute-force oracle
  in test_textnorm.py.
- ``geopy``      -> haversine stand-in (only utils.py module import needs it).

The reference modules are used for TESTS ONLY; no engine code touches them.
"""

from __future__ import annotations

import json
import pathlib
import sys
import types

import pytest


@pytest.fixture(scope="session")
def engine_golden():
    """Golden values frozen from the engine; see the file's _provenance."""
    path = pathlib.Path(__file__).parent / "fixtures" / "engine_golden.json"
    return json.loads(path.read_text(encoding="utf-8"))


@pytest.fixture(scope="session")
def refmod():
    from nominatimwrapper_spark.functions.textnorm import damerau_levenshtein

    jf = types.ModuleType("jellyfish")
    jf.damerau_levenshtein_distance = damerau_levenshtein
    sys.modules.setdefault("jellyfish", jf)

    geopy = types.ModuleType("geopy")
    geopy_distance = types.ModuleType("geopy.distance")

    class _Dist:
        def __init__(self, a, b):
            from nominatimwrapper_spark.functions.geo import haversine_km

            self.km = haversine_km(a[0], a[1], b[0], b[1])

    geopy_distance.distance = _Dist
    geopy.distance = geopy_distance
    sys.modules.setdefault("geopy", geopy)
    sys.modules.setdefault("geopy.distance", geopy_distance)

    sys.path.insert(0, "/root/reference")
    try:
        import check_result_utils  # noqa: F401
        import utils  # noqa: F401
        import transformers  # noqa: F401
    except ModuleNotFoundError as e:
        sys.path.pop(0)
        pytest.skip(f"reference modules not importable ({e}); engine_golden.json covers these inputs")

    ns = types.SimpleNamespace(
        check_result_utils=check_result_utils, utils=utils, transformers=transformers
    )
    yield ns
    sys.path.remove("/root/reference")


@pytest.fixture(scope="session")
def spark():
    from nominatimwrapper_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="nwspark-tests", shuffle_partitions=4)
    yield s
