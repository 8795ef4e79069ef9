"""openetlagent_spark — a PySpark-native analytics/ETL engine with the
capability surface of Antix5/OpenETLAgent (reference at /root/reference,
studied in SURVEY.md), re-designed Spark-first: lazy DataFrame plans,
Catalyst optimization, distributed execution, plus large-scale
training-data-pipeline extensions (dedup, similarity search, text
analysis, multimodal columns)."""

from importlib import import_module

# Exported name -> submodule.  Resolved on first access (PEP 562), so a
# submodule import such as ``python -m openetlagent_spark.worker_daemon``
# (the Python-worker daemon) does not pay for pandas, the model and the
# runner.
_EXPORTS = {
    "generate_pipeline_step_by_step": "generator",
    "PipelineConfig": "model",
    "PipelineFlow": "model",
    "load_pipeline_config": "model",
    "load_pipeline_flow": "model",
    "parse_operation": "model",
    "save_pipeline_flow": "model",
    "apply_operations": "runner",
    "probe": "runner",
    "run_flow": "runner",
    "get_spark": "session",
    "validate_schema": "validate",
}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(f".{_EXPORTS[name]}", __name__), name)
    globals()[name] = value
    return value


__all__ = sorted(_EXPORTS)

__version__ = "0.1.0"
