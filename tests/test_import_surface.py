"""Every name a package advertises in ``__all__`` must resolve, so a stale
re-export fails here instead of at a user's import."""

import importlib

import pytest

PACKAGES = [
    "airbyte_module_spark",
    "airbyte_module_spark.sources",
    "airbyte_module_spark.functions",
    "airbyte_module_spark.operators",
    "airbyte_module_spark.lake",
    "airbyte_module_spark.plans",
    "airbyte_module_spark.streaming",
]


@pytest.mark.parametrize("name", PACKAGES)
def test_all_names_resolve(name):
    mod = importlib.import_module(name)
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, f"{name}.__all__ names missing attributes: {missing}"
