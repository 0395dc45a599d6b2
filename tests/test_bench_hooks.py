"""The engine surface the benchmark (perfbench/) reaches into, checked
without a SparkSession.

perfbench imports these modules, calls these functions and wraps them
by name at run time (``Tracer.wrap``/``Tracer.patch`` do ``getattr`` on
the module), so a rename or a changed signature would otherwise crash
only the traced benchmark run. This test makes it fail here instead."""

from __future__ import annotations

import importlib
import inspect

import pytest

PKG = "personal_data_lakehouse_spark"

# (module, attribute) pairs perfbench imports, calls or wraps
HOOKS = [
    ("session", "get_spark"),
    ("operators.merge", "merge_into_table"),
    ("streaming.windows", "stream_events"),
    ("pipelines", "ingest_to_bronze"),
    ("pipelines", "run_models"),
    ("io.rest", "fetch_stock_frame"),
    ("plans.models", "ModelRunner"),
    ("plans.registry", "REGISTRY"),
    ("plans.registry", "oracle_double"),
    ("corpus", "corpus_pipeline"),
    ("corpus", "write_table"),
    ("corpus_incremental", "init_state_tables"),
    ("corpus_incremental", "run_increment"),
    ("corpus_incremental", "apply_increment_detailed"),
    ("corpus_incremental", "build_state_detailed"),
]


def _attr(module: str, name: str):
    return getattr(importlib.import_module(f"{PKG}.{module}"), name)


def _params(module: str, name: str) -> list[inspect.Parameter]:
    return list(inspect.signature(_attr(module, name)).parameters.values())


@pytest.mark.parametrize("module,name", HOOKS)
def test_hook_exists(module, name):
    assert hasattr(importlib.import_module(f"{PKG}.{module}"), name)


def test_model_runner_has_run_model():
    assert callable(_attr("plans.models", "ModelRunner").run_model)


def test_merge_into_table_positional_signature():
    """The benchmark's merge span calls the original positionally, as
    ``orig(spark, table, source, keys, insert_only)``."""
    params = _params("operators.merge", "merge_into_table")
    assert [p.name for p in params] == [
        "spark",
        "table",
        "source",
        "keys",
        "insert_only",
    ]
    assert all(p.kind is p.POSITIONAL_OR_KEYWORD for p in params)


def test_keywords_perfbench_passes_exist():
    def names(module, name):
        return {p.name for p in _params(module, name)}

    assert {
        "app_name",
        "master",
        "shuffle_partitions",
        "warehouse_dir",
        "extra_conf",
    } <= names("session", "get_spark")
    assert "namespace" in names("corpus_incremental", "init_state_tables")
    assert "namespace" in names("corpus_incremental", "run_increment")
    assert "namespace" in names("corpus", "corpus_pipeline")


def test_build_result_exposes_state_frames():
    """perfbench checks the stored tables against
    ``build_state_detailed(docs).state.frames()`` and ``release()``s."""
    from personal_data_lakehouse_spark.corpus_incremental import (
        CorpusState,
        IncrementResult,
    )

    ret = inspect.signature(
        _attr("corpus_incremental", "build_state_detailed")
    ).return_annotation
    assert ret in (IncrementResult, "IncrementResult")
    assert "state" in IncrementResult.__dataclass_fields__
    assert callable(IncrementResult.release)
    assert callable(CorpusState.frames)


def test_query_mix_queries_are_registered():
    from perfbench.workloads import QueryMix
    from personal_data_lakehouse_spark.plans import (  # noqa: F401
        advanced,
        extras,
        registry,
        relational,
        round4_ops,
        similarity_ops,
    )

    missing = [q for q in QueryMix.QUERIES if q not in registry.REGISTRY]
    assert not missing
