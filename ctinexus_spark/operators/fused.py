"""Fused fast path: the per-document stage kernels of the modular
operators — ie.parse_extraction, et.parse_tagging, ea.align_doc and
lp.doc_graph — arranged into two Arrow passes plus batched link
inference. The modular operators are each checked against DuckDB
oracles; this module owns only the arrangement, and a test asserts
the same KG as the modular path.

- extract_and_tag: IE + ET in one mapInPandas pass, no shuffle. Every
  document gets an ET call (the modular path calls ET only for
  documents with an IE triple).
- align_graph_triples: one url-stitched grouped-map pass
  (partitioning.grouped_map_stitched) that mints mention ids in the
  pass, embeds the batch's distinct mention texts, aligns, analyzes
  the graph and emits triples plus main→topic pairs. Its only
  exchange is the url repartition (tests/test_plans.py pins at most
  two on top of the documents: that one plus normalize's under-split
  repartition).
- fused_kg: a barrier on the align output, then link inference.

Skew: every keyed step hashes on url, which is high-cardinality, and
AQE splits skewed partitions; no salting runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.operators.ea import align_doc
from ctinexus_spark.operators.et import ET_SCHEMA, typed_frame
from ctinexus_spark.operators.ie import parse_extraction
from ctinexus_spark.operators.lp import accepted_links, doc_graph, infer_links
from ctinexus_spark.partitioning import barrier, grouped_map_stitched


def extract_and_tag(docs: DataFrame, model, text_col: str = "text_norm") -> DataFrame:
    """IE + ET in one Arrow pass, with the model still seeing the
    reference's two prompts per document (one extract batch + one tag
    batch). Only IE-valid triples reach the tag prompt."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            extracted = [
                [
                    {"subject": s, "relation": r, "object": o}
                    for s, r, o, ok in parse_extraction(resp)
                    if ok
                ]
                for resp in model.extract(texts)
            ]
            yield typed_frame(pdf["url"], model.tag(texts, extracted))

    return docs.select("url", text_col).mapInPandas(run, schema=ET_SCHEMA)


FUSED_SCHEMA = (
    "url string, row_type string, t_idx int, relation string, "
    "s_mention_id int, s_text string, s_class string, s_merged array<string>, "
    "s_entity_id int, s_entity_text string, "
    "o_mention_id int, o_text string, o_class string, o_merged array<string>, "
    "o_entity_id int, o_entity_text string"
)

_FUSED_COLUMNS = [
    "url", "row_type", "t_idx", "relation",
    "s_mention_id", "s_text", "s_class", "s_merged", "s_entity_id", "s_entity_text",
    "o_mention_id", "o_text", "o_class", "o_merged", "o_entity_id", "o_entity_text",
]


def align_graph_triples(typed: DataFrame, model, config: PipelineConfig) -> DataFrame:
    """Fused EA+LP-analysis+materialize: one url-partitioned Arrow
    pass emits aligned triples (row_type='triple') and main→topic link
    candidates (row_type='main_pair').

    Embeddings are fetched *inside* the pass — one model.embed call
    per Arrow batch covering the batch's distinct mention texts. This
    keeps the reference's batched-embedding semantics
    (graph_constructor.py:365-376, batched better: across documents)
    AND keeps the url-shuffle narrow: shipping per-node float vectors
    through the repartition measured ~3x the stage wall at sf0.1.
    """
    thr, mode = config.similarity_threshold, config.ea_cluster_mode

    def _one_doc(url: str, g: pd.DataFrame, emb_of: dict, rows: list) -> None:
        g = g.sort_values("t_idx", kind="stable")
        t_idx_arr = g["t_idx"].tolist()
        # node arrays in traversal order (subject, object per triple)
        texts = [x for pair in zip(g["subject_text"], g["object_text"]) for x in pair]
        classes = [x for pair in zip(g["subject_class"], g["object_class"]) for x in pair]
        t_idxs = [t for t in t_idx_arr for _ in (0, 1)]
        # in-pass mention minting: first-occurrence dense ids
        mid_of: dict[str, int] = {}
        mids = [mid_of.setdefault(txt, len(mid_of)) for txt in texts]

        ent_ids, ent_texts, merged = align_doc(mids, texts, classes, emb_of, thr, mode)
        _, _, text_of, mains, topic = doc_graph(ent_ids, ent_texts, t_idxs)

        for i, (t_idx, rel) in enumerate(zip(t_idx_arr, g["relation"])):
            s, o = 2 * i, 2 * i + 1
            rows.append(
                (url, "triple", t_idx, rel,
                 mids[s], texts[s], classes[s], merged[s], ent_ids[s], ent_texts[s],
                 mids[o], texts[o], classes[o], merged[o], ent_ids[o], ent_texts[o])
            )
        rows.extend(
            (url, "main_pair", None, None,
             None, None, None, None, m, text_of[m],
             None, None, None, None, topic, text_of[topic])
            for m in mains
            if m != topic
        )

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        uniq = pd.unique(pd.concat([pdf["subject_text"], pdf["object_text"]], ignore_index=True))
        uniq = [u for u in uniq.tolist() if u is not None]
        emb_of = dict(zip(uniq, model.embed(uniq)))
        rows: list = []
        for url, g in pdf.groupby("url", sort=False):
            _one_doc(url, g, emb_of, rows)
        return pd.DataFrame(rows, columns=_FUSED_COLUMNS)

    # one Arrow exchange per batch of MANY documents — a
    # groupBy().applyInPandas() would pay the per-group pandas/Arrow
    # overhead 10^12 times (measured ~2ms/doc: 2000 core-years at
    # target scale). The repartition + sortWithinPartitions +
    # batch-boundary stitch lives in partitioning.grouped_map_stitched
    # (shared with the modular EA/LP operators).
    return grouped_map_stitched(typed.filter(F.col("valid")), "url", _process, FUSED_SCHEMA)


def extracted_triples(fused: DataFrame) -> DataFrame:
    """fused rows (row_type='triple') → (url, subj, pred, obj, source)."""
    return fused.filter(F.col("row_type") == "triple").select(
        "url",
        F.col("s_entity_text").alias("subj"),
        F.col("relation").alias("pred"),
        F.col("o_entity_text").alias("obj"),
        F.lit("extracted").alias("source"),
    )


def link_main_pairs(fused: DataFrame, docs: DataFrame, model) -> DataFrame:
    """fused rows (row_type='main_pair') + doc text → LINKS_SCHEMA rows
    via the shared batched link-inference pass (operators/lp.py)."""
    pairs = (
        fused.filter(F.col("row_type") == "main_pair")
        .select("url",
                F.col("s_entity_id").alias("main_id"), F.col("s_entity_text").alias("main_text"),
                F.col("o_entity_id").alias("topic_id"), F.col("o_entity_text").alias("topic_text"))
        .join(docs.select("url", "text_norm"), "url", "left")
    )
    return infer_links(pairs, model)


def fused_kg(docs: DataFrame, model, config: PipelineConfig) -> DataFrame:
    """documents(normalized) → final (url, subj, pred, obj, source)
    through the fused path."""
    # Eagerly materialize the one multi-consumer node: fused feeds the
    # triple and main_pair branches; a lazy cache would race inside the
    # single final job and compute the model-call pass twice.
    # localCheckpoint (not persist+count): same barrier, but the blocks
    # are GC-reclaimed when the result is dropped — repeated fused_kg
    # calls in one session don't accumulate pinned cache entries. (The
    # checkpointed production path gets the same barrier from the
    # stage's parquet/Iceberg commit.)
    typed = extract_and_tag(docs, model)
    fused = barrier(align_graph_triples(typed, model, config))

    links = link_main_pairs(fused, docs, model)
    return extracted_triples(fused).unionByName(accepted_links(links))
