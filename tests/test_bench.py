"""bench.py's shared harness: ``prepare`` builds the ingest-time
artifacts every timed run assumes, and a failed build raises."""

from __future__ import annotations

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def bench(monkeypatch, tmp_path):
    """bench.py loaded by path, with the engine's artifact roots under
    ``tmp_path`` so the test writes nothing into the checkout."""
    from weaviate_spark.operators import bm25, quantization
    from weaviate_spark.sources import bucketed

    monkeypatch.setattr(bm25, "BM25_ARTIFACT_ROOT", str(tmp_path / "bm25"))
    monkeypatch.setattr(quantization, "VECTOR_ARTIFACT_ROOT", str(tmp_path / "vecindex"))
    monkeypatch.setattr(bucketed, "ARTIFACT_ROOT", str(tmp_path / "bucketed"))
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_prepare_builds_the_ingest_artifacts(spark, bench, sf_dir):
    from weaviate_spark.cache import session_key
    from weaviate_spark.operators.dedup import _dedup_indexes

    assert bench.prepare(spark, sf_dir) == [
        "bm25_stats:documents", "bm25_stats:docs_embedded",
        "dedup_index:documents", "bq:embeddings",
    ]
    idx = _dedup_indexes[(session_key(spark), sf_dir, "documents", 3)]
    assert 16 in idx.sig and idx.sets is not None


def test_prepare_raises_on_a_missing_table(spark, bench, tmp_path):
    from pyspark.errors import AnalysisException

    sf = tmp_path / "sf_empty"
    sf.mkdir()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        bench.prepare(spark, str(sf))
