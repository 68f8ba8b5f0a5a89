"""ET stage: entity typing.

Reference behavior: ONE prompt per document carrying all of its
triples (llm_processor.py:163-213); response keys `tagged_triples` or
`triplets`; typed validation (cti_processor.py:118-144); dict-valued
class → first key; missing class → "default"
(cti_processor.py:194-198).

Spark shape: triples are re-grouped per document with
`sort_array(collect_list(struct(...)))` (map-side partial aggregation,
one shuffle on url), then a `mapInPandas` batch calls the model once
per Arrow batch of documents and explodes typed triples back out.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.jsonrepair import parse_llm_json
from ctinexus_spark.validation import valid_typed_triplet

ET_SCHEMA = (
    "url string, t_idx int, subject_text string, subject_class string, "
    "relation string, object_text string, object_class string, valid boolean"
)


ET_COLUMNS = [
    "url", "t_idx", "subject_text", "subject_class",
    "relation", "object_text", "object_class", "valid",
]


def _first_key_or_default(cls) -> str:
    if isinstance(cls, dict):
        keys = list(cls.keys())
        return keys[0] if keys else "default"
    if isinstance(cls, str) and cls:
        return cls
    return "default"


def parse_tagging(resp) -> list[tuple]:
    """One ET response → (subject_text, subject_class, relation,
    object_text, object_class, ok) rows in the model's order. Reads
    `tagged_triples`, falling back to `triplets`; rejects keep
    ok=False. Shared by tag_triples and the fused IE+ET pass."""
    try:
        payload = parse_llm_json(resp)
    except ValueError:
        payload = {}
    if not isinstance(payload, dict):
        payload = {}
    tagged = payload.get("tagged_triples")
    if tagged is None:
        tagged = payload.get("triplets", [])
    if not isinstance(tagged, list):
        return []
    rows = []
    for t in tagged:
        d = t if isinstance(t, dict) else {}
        s, o = (v if isinstance(v, dict) else {} for v in (d.get("subject"), d.get("object")))
        rows.append((s.get("text"), _first_key_or_default(s.get("class")), d.get("relation"),
                     o.get("text"), _first_key_or_default(o.get("class")), valid_typed_triplet(t)))
    return rows


def typed_frame(urls, responses) -> pd.DataFrame:
    """Per-document ET responses → ET_COLUMNS rows, t_idx = the
    triple's position in its response."""
    rows = [
        (url, i, *row)
        for url, resp in zip(urls, responses)
        for i, row in enumerate(parse_tagging(resp))
    ]
    return pd.DataFrame(rows, columns=ET_COLUMNS)


def tag_triples(triples_ie: DataFrame, docs: DataFrame, model) -> DataFrame:
    """triples_ie(url, t_idx, subject, relation, object) + documents →
    typed triples (url, t_idx, subject_text, subject_class, relation,
    object_text, object_class, valid). Only documents with at least one
    IE triple get an ET call."""
    per_doc = (
        triples_ie.groupBy("url")
        .agg(F.sort_array(F.collect_list(F.struct("t_idx", "subject", "relation", "object"))).alias("triples"))
        .join(docs.select("url", "text_norm"), "url", "left")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            triples_per_doc = [
                [
                    {"subject": t["subject"], "relation": t["relation"], "object": t["object"]}
                    for t in doc_triples
                ]
                for doc_triples in pdf["triples"]
            ]
            responses = model.tag(pdf["text_norm"].fillna("").tolist(), triples_per_doc)
            yield typed_frame(pdf["url"], responses)

    return per_doc.mapInPandas(run, schema=ET_SCHEMA)
