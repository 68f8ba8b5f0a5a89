"""The fused fast path must produce exactly the modular pipeline's
results — on CTI fixtures (merges, IOC unmerge, multi-component LP)
and on a slice of the driver corpus (lexicon mode)."""

import pytest
from pyspark.sql import functions as F

from ctinexus_spark import entry_queries as eq
from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import StubModel
from ctinexus_spark.operators.fused import fused_kg
from ctinexus_spark.operators.normalize import normalize_documents
from ctinexus_spark.pipeline import run_pipeline


def _kg_set(df):
    return {(r.url, r.subj, r.pred, r.obj, r.source) for r in df.collect()}


@pytest.mark.parametrize("mode", ["star", "cc"])
def test_fused_equals_modular_on_cti(spark, cti_documents, mode):
    cfg = PipelineConfig(ea_cluster_mode=mode)
    alias = {"Cozy Bear": "APT29"}
    modular = run_pipeline(cti_documents, StubModel(cfg, alias_map=alias), cfg)
    docs = normalize_documents(cti_documents, lang_filter="en")
    fused = fused_kg(docs, StubModel(cfg, alias_map=alias), cfg)
    assert _kg_set(fused) == _kg_set(modular.kg)


def test_fused_equals_modular_on_driver_docs(spark):
    cfg = eq.CONFIG
    raw = eq.load_documents(spark, "/root/testdata/sf0.001").filter(F.col("url").cast("int") < 100)
    modular = run_pipeline(raw, StubModel(cfg), cfg, lang_filter=None)
    docs = normalize_documents(raw, lang_filter=None)
    fused = fused_kg(docs, StubModel(cfg), cfg)
    assert _kg_set(fused) == _kg_set(modular.kg)


def test_fused_parity_across_arrow_batch_boundaries(spark):
    """A document whose typed rows straddle an Arrow batch boundary
    must still be EA/LP-processed as ONE unit: with maxRecordsPerBatch
    = 3, every multi-triple doc straddles, so any fragment-processing
    regression diverges from the modular path immediately."""
    cfg = eq.CONFIG
    raw = eq.load_documents(spark, "/root/testdata/sf0.001").filter(F.col("url").cast("int") < 40)
    modular = run_pipeline(raw, StubModel(cfg), cfg, lang_filter=None)
    expected = _kg_set(modular.kg)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        docs = normalize_documents(raw, lang_filter=None)
        fused = fused_kg(docs, StubModel(cfg), cfg)
        assert _kg_set(fused) == expected
    finally:
        spark.conf.set(key, prev)
