"""dataqualitykit_spark — PySpark-native web-text quality-filter engine.

A from-scratch re-imagination of karrabi/DataQualityKit's per-column
check/fix library as a partition-parallel keep/drop + scrub pipeline over
Common-Crawl-style page tables (see SURVEY.md for the full blueprint and
reference citations).
"""

import importlib

# name -> submodule, imported on first use: Spark's Python worker daemon
# is `python -m dataqualitykit_spark._pydaemon`, which runs this file, and
# an eager pipeline import would hold pandas/numpy/pyarrow in the daemon
_EXPORTS = {
    "DEFAULT_CONFIG": "config",
    "PipelineConfig": "config",
    "dataset_card": "pipeline",
    "get_spark": "session",
    "quality_metrics": "pipeline",
    "run_pipeline": "pipeline",
}
__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    if name in _EXPORTS:
        return getattr(importlib.import_module(f".{_EXPORTS[name]}", __name__), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__version__ = "0.1.0"
