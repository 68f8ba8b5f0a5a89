"""kNN demonstration retrieval against the real reference demo corpus
(148 files), exercised through the Spark operator; and the loader's
loud failure on a missing or empty corpus."""

import os

import pytest

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.demos import REFERENCE_DEMO_DIR, load_demo_corpus
from ctinexus_spark.operators.ie import attach_demos

needs_corpus = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DEMO_DIR), reason="reference demo corpus not available"
)


def test_missing_corpus_dir_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        load_demo_corpus(str(tmp_path / "no_such_dir"))


def test_corpus_dir_without_json_demos_raises(tmp_path):
    (tmp_path / "notes.txt").write_text("not a demo")
    with pytest.raises(FileNotFoundError):
        load_demo_corpus(str(tmp_path))


def test_loads_json_demos_in_filename_order(tmp_path):
    (tmp_path / "b.json").write_text('{"text": "second", "explicit_triplets": []}')
    (tmp_path / "a.json").write_text('{"text": "first"}')
    assert load_demo_corpus(str(tmp_path)) == (["a", "b"], ["first", "second"], [[], []])


@needs_corpus
def test_corpus_loads():
    ids, texts, triplets = load_demo_corpus()
    assert len(ids) == len(texts) == len(triplets) == 148
    assert all(texts)


@needs_corpus
def test_topk_retrieval_relevance(spark):
    ids, texts, _ = load_demo_corpus()
    # query = one demo's own text → retrieval must rank it first
    # (desc mode; identical text ⇒ cosine 1.0)
    cfg = PipelineConfig(demo_permutation="desc")
    docs = spark.createDataFrame([("u1", texts[10])], "url string, text_norm string")
    got = attach_demos(docs, texts, ids, cfg).collect()
    assert got[0].demo_ids[0] == ids[10]
    assert len(got[0].demo_ids) == cfg.shot


@needs_corpus
def test_asc_permutation_puts_best_last(spark):
    ids, texts, _ = load_demo_corpus()
    cfg = PipelineConfig(demo_permutation="asc")  # reference default
    docs = spark.createDataFrame([("u1", texts[10])], "url string, text_norm string")
    got = attach_demos(docs, texts, ids, cfg).collect()
    assert got[0].demo_ids[-1] == ids[10]
