"""LP stage: link prediction over disconnected subgraphs.

Reference semantics (graph_constructor.py:51-209,
llm_processor.py:900-1015):
- undirected adjacency per document over aligned entity ids; DFS
  connected components (L2-L3);
- degree = subject+object occurrence count over ALL of the document's
  triples (named "outdegree" there, but counts both sides) (L4);
- main node per component = first strict degree-argmax (L5), topic
  node = main node of the largest component, first-largest wins (L6);
- one LLM call per non-topic main node proposing the edge
  main ↔ topic; answers that name neither orientation exactly become
  the "hallucination" sentinel (L7-L8).

Order pins (SURVEY.md §7): components ordered by the first traversal
appearance of any member; argmax ties break toward lower entity_id.

Spark shape: component/degree/main/topic (doc_graph) run per document
inside one partitioning.grouped_map_stitched pass (many documents per
Arrow batch); link calls batch per Arrow batch in mapInPandas; the
guard is plain column logic on the model output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.jsonrepair import parse_llm_json

GRAPH_SCHEMA = (
    "url string, entity_id int, entity_text string, component_id int, "
    "component_size int, degree int, is_main boolean, is_topic boolean"
)

LINKS_SCHEMA = (
    "url string, subject_entity_id int, subject_text string, relation string, "
    "object_entity_id int, object_text string, status string"
)


GRAPH_COLUMNS = [
    "url", "entity_id", "entity_text", "component_id",
    "component_size", "degree", "is_main", "is_topic",
]


def doc_graph(entity_ids: list[int], entity_texts: list[str], t_idxs: list[int]):
    """Components, degree, main and topic of ONE document's aligned
    node rows in traversal order (subject, object per triple).

    Returns (components, degree, text_of, mains, topic): components in
    discovery order (min first position of a member), each listing its
    entity ids in first-appearance order; degree and text_of (first
    row's entity_text) per entity id; mains[i] = main of components[i];
    topic = main of the largest component (None for an empty doc).
    Union-find, no recursion — the reference's recursive DFS would blow
    the stack on big components. Shared by the modular analyze pass
    (_analyze_doc) and the fused align+graph pass (operators/fused.py)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    first_pos: dict[int, int] = {}
    text_of: dict[int, str] = {}
    degree: dict[int, int] = {}
    by_triple: dict[int, list[int]] = {}
    for i, e in enumerate(entity_ids):
        if e not in first_pos:
            first_pos[e] = i
            text_of[e] = entity_texts[i]
            degree[e] = 0
        degree[e] += 1
        by_triple.setdefault(t_idxs[i], []).append(e)
    for pair in by_triple.values():
        if len(pair) == 2:
            ra, rb = find(pair[0]), find(pair[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    comp_members: dict[int, list[int]] = {}
    for e in first_pos:
        comp_members.setdefault(find(e), []).append(e)
    comps = sorted(comp_members.values(), key=lambda ms: min(first_pos[m] for m in ms))
    # main: first strict degree-argmax, ties → lower entity_id
    mains = [max(sorted(ms), key=lambda m: (degree[m], -m)) for ms in comps]
    topic = None
    if comps:
        # largest component, first-discovered wins ties
        topic = mains[max(range(len(comps)), key=lambda i: (len(comps[i]), -i))]
    return comps, degree, text_of, mains, topic


def _analyze_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """pandas adapter over doc_graph. Input: per-doc aligned node rows
    (url, pos, entity_id, entity_text, t_idx). Output: one row per
    entity with component/degree/main/topic flags."""
    pdf = pdf.sort_values("pos", kind="stable")
    url = pdf["url"].iloc[0]
    comps, degree, text_of, mains, topic = doc_graph(
        pdf["entity_id"].tolist(), pdf["entity_text"].tolist(), pdf["t_idx"].tolist()
    )
    rows = [
        (url, m, text_of[m], cid, len(members), degree[m], m == main, m == topic)
        for cid, (members, main) in enumerate(zip(comps, mains))
        for m in members
    ]
    return pd.DataFrame(rows, columns=GRAPH_COLUMNS)


def analyze_graph(aligned_nodes: DataFrame, pre_grouped: bool = False) -> DataFrame:
    """Per-document graph analysis → entity-level component/degree/
    main/topic table. Runs via the batched grouped-map (many docs per
    Arrow exchange) — a groupBy().applyInPandas here paid the ~2 ms
    per-group pandas tax once per document (≈10 s of the 12 s modular
    lp_graph time at sf0.1).

    pre_grouped=True skips the grouped-map's repartition+sort (guide
    §2.4): pass it when aligned_nodes is the DIRECT output of
    align_entities (whose own grouped-map guarantees every url's rows
    sit whole and contiguous in one partition) — the aligned node rows
    then never cross a second exchange. Leave False for hand-built
    inputs."""
    from ctinexus_spark.partitioning import grouped_map_stitched

    cols = aligned_nodes.select("url", "pos", "t_idx", "entity_id", "entity_text")

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = [_analyze_doc(g) for _, g in pdf.groupby("url", sort=False)]
        return pd.concat(outs, ignore_index=True)

    return grouped_map_stitched(
        cols, "url", _process, GRAPH_SCHEMA, assume_grouped=pre_grouped
    )


def predict_links(
    graph: DataFrame,
    docs: DataFrame,
    model,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """main-nodes × topic-node per url → batched link inference with
    the hallucination guard.

    Shuffle shape (optimization round 6, guide §2.4): the topic row is
    attached to each main row with ONE window over url instead of the
    earlier mains ⋈ topics self-join — `graph` is consumed exactly
    once, so an unpersisted graph lineage (the align+analyze Arrow
    passes) no longer computes twice, and the mains/topics exchange
    pair collapses into the single window exchange. Semantics are
    unchanged: a document has at most one is_topic row (the main of
    its largest component), every topic row is also a main row, and
    pairs = (main ∧ ¬topic) × that topic."""
    from pyspark.sql import Window

    w = Window.partitionBy("url")
    pairs = (
        graph.filter(F.col("is_main"))
        .withColumn(
            "topic_id", F.max(F.when(F.col("is_topic"), F.col("entity_id"))).over(w)
        )
        .withColumn(
            "topic_text", F.max(F.when(F.col("is_topic"), F.col("entity_text"))).over(w)
        )
        .filter(~F.col("is_topic"))
        .select(
            "url",
            F.col("entity_id").alias("main_id"),
            F.col("entity_text").alias("main_text"),
            "topic_id",
            "topic_text",
        )
        .join(docs.select("url", "text_norm"), "url", "left")
    )
    return infer_links(pairs, model)


_LINK_COLS = [
    "url", "subject_entity_id", "subject_text", "relation",
    "object_entity_id", "object_text", "status",
]


def _link_rows(pdf: pd.DataFrame, model) -> pd.DataFrame:
    """Batched link inference + hallucination guard over one Arrow
    batch of (url, main_id, main_text, topic_id, topic_text, text_norm)
    rows: ONE model.link_batch call per batch (mirrors extract/tag —
    with an HTTP-backed client this is batched-async vs serial
    round-trips)."""
    recs = list(pdf.itertuples(index=False))
    responses = model.link_batch(
        [((r.text_norm or ""), r.main_text, r.topic_text) for r in recs]
    )
    rows = []
    for r, resp in zip(recs, responses):
        try:
            payload = parse_llm_json(resp)
        except ValueError:
            payload = None
        ps = pr = po = "unknown"
        if isinstance(payload, dict):
            pt = payload.get("predicted_triple")
            if isinstance(pt, dict):
                # reference KeyError semantics (llm_processor.py:940-965):
                # a missing/null subject|relation|object key coerces all
                # three to 'unknown', so the pair lands in the
                # hallucination branch instead of emitting a null-field
                # "ok" link.
                if all(pt.get(k) is not None for k in ("subject", "relation", "object")):
                    ps, pr, po = pt["subject"], pt["relation"], pt["object"]
            else:
                vals = list(payload.values())
                if len(vals) >= 3:
                    ps, pr, po = vals[0], vals[1], vals[2]
        # hallucination guard: exact orientation match required
        if ps == r.main_text and po == r.topic_text:
            rows.append((r.url, int(r.main_id), r.main_text, pr,
                         int(r.topic_id), r.topic_text, "ok"))
        elif ps == r.topic_text and po == r.main_text:
            rows.append((r.url, int(r.topic_id), r.topic_text, pr,
                         int(r.main_id), r.main_text, "ok"))
        else:
            rows.append((r.url, None, "hallucination", pr,
                         None, "hallucination", "hallucination"))
    return pd.DataFrame(rows, columns=_LINK_COLS)


def infer_links(pairs: DataFrame, model) -> DataFrame:
    """(url, main_id, main_text, topic_id, topic_text, text_norm) →
    LINKS_SCHEMA rows. Shared by the modular path (predict_links) and
    the fused path (fused_kg / checkpointed pipeline)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _link_rows(pdf, model)

    return pairs.mapInPandas(run, schema=LINKS_SCHEMA)


def accepted_links(links: DataFrame) -> DataFrame:
    """LINKS_SCHEMA rows the hallucination guard accepted
    (status 'ok') → KG rows (url, subj, pred, obj, source='predicted')."""
    return links.filter(F.col("status") == "ok").select(
        "url",
        F.col("subject_text").alias("subj"),
        F.col("relation").alias("pred"),
        F.col("object_text").alias("obj"),
        F.lit("predicted").alias("source"),
    )
