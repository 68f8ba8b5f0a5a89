"""EA stage: entity alignment.

Reference semantics (re-expressed, not ported):
- A1 mention minting — first-occurrence dense ids per unique
  mention_text within a document (cti_processor.py:147-202).
- A2 embedding — one batch per document there; here one batch per
  Arrow batch of *globally distinct* mention texts (strictly better).
- A3-A7 merge — type-blocked pairwise cosine, star-set clusters with
  last-write-wins, frequency-argmax canonical name, dense entity ids
  in class-first-appearance order (graph_constructor.py:246-441).
- A8-A10 IOC unmerge — all-IOC clusters split back into their own
  entities (cti_processor.py:53-115).

Order-dependent reference semantics rest on CPython dict/set iteration
order; this rebuild pins total orders instead (SURVEY.md §7):
traversal position `pos` for first-occurrence, ascending mention_id
inside class groups and clusters, first-appearance order for IOC
unmerge iteration. Outcomes are identical wherever the reference is
deterministic.

Scale shape: minting is pure DataFrame ops (one shuffle on url);
embedding is a broadcast-free pandas UDF over distinct texts; the
merge (align_doc) runs per document inside one
partitioning.grouped_map_stitched pass — many documents per Arrow
batch, and at 10^12 docs the groups stay tiny (≤ dozens of mentions),
so this parallelizes across documents with a single url-shuffle
instead of an O(n²) global join.
`ea_cluster_mode="cc"` swaps star-sets for connected components over
the ≥threshold similarity edges (north_star semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.ioc import detect_iocs

NODES_SCHEMA = (
    "url string, t_idx int, side string, pos int, mention_id int, "
    "mention_text string, mention_class string"
)

ALIGNED_SCHEMA = NODES_SCHEMA + (
    ", entity_id int, entity_text string, mention_merged array<string>"
)


def mint_mentions(triples_typed: DataFrame) -> DataFrame:
    """Explode typed triples into per-node rows with dense doc-scoped
    mention ids (first-occurrence order). Pure DataFrame ops.

    Shuffle shape (optimization round 6, guide §2.4): ONE exchange.
    The triples are hash-repartitioned by url BEFORE the subject/object
    explode (narrow — GenerateExec preserves partitioning), and both
    windows' ClusteredDistribution requirements — (url, mention_text)
    and (url) — are satisfied by hashpartitioning(url) (subset rule),
    so they plan as local sorts with no further exchange. The earlier
    union-of-two-selects form paid one exchange per window (two full
    node-row shuffles) and scanned the typed input twice.

    The url partitioning + (url, first_pos) sort order established here
    also flow into align_entities: its grouped-map repartition/sort are
    provably redundant and elided by the planner, so the per-node
    embedding join output reaches the Arrow pass with no extra shuffle.

    POST-CONDITION (relied on downstream): every url's rows live in a
    single partition, contiguously.
    """
    t = triples_typed.filter(F.col("valid"))
    node = F.explode(
        F.array(
            F.struct(
                F.lit("subject").alias("side"),
                (F.col("t_idx") * 2).alias("pos"),
                F.col("subject_text").alias("mention_text"),
                F.col("subject_class").alias("mention_class"),
            ),
            F.struct(
                F.lit("object").alias("side"),
                (F.col("t_idx") * 2 + 1).alias("pos"),
                F.col("object_text").alias("mention_text"),
                F.col("object_class").alias("mention_class"),
            ),
        )
    )
    # explicit partition count (keyed_partitions): a bare
    # repartition("url") is an AQE-coalescible shuffle — at bench scale
    # it collapses to ~1 partition and SERIALIZES the two window sorts
    # and the whole align Arrow pass downstream (measured: align stage
    # 1.6s → 3.3s). Pinning ~2 tasks/core keeps the Python-bound pass
    # parallel; at 100 TB the same count is a lower bound the natural
    # split count exceeds anyway.
    from ctinexus_spark.partitioning import keyed_partitions

    n_part = keyed_partitions(triples_typed)
    nodes = (
        t.select(
            "url", "t_idx", "subject_text", "subject_class",
            "object_text", "object_class",
        )
        .repartition(n_part, "url")
        .select("url", "t_idx", node.alias("node"))
        .select(
            "url", "t_idx", "node.side", "node.pos",
            "node.mention_text", "node.mention_class",
        )
    )

    first_pos = Window.partitionBy("url", "mention_text")
    rank_w = Window.partitionBy("url").orderBy("first_pos")
    return (
        nodes.withColumn("first_pos", F.min("pos").over(first_pos))
        .withColumn("mention_id", (F.dense_rank().over(rank_w) - 1).cast("int"))
        .drop("first_pos")
        .select("url", "t_idx", "side", "pos", "mention_id", "mention_text", "mention_class")
    )


def embed_mentions(nodes: DataFrame, model) -> DataFrame:
    """(mention_text) → (mention_text, embedding array<float>) over
    globally distinct texts; one model call per Arrow batch."""

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        vecs = model.embed(texts.fillna("").tolist())
        return pd.Series([v.astype("float32").tolist() for v in vecs])

    return nodes.select("mention_text").distinct().withColumn(
        "embedding", _embed(F.col("mention_text"))
    )


# --- per-document merge + IOC unmerge ----------------------------------


def _cosine_matrix(vecs: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = vecs / norms
    return unit @ unit.T


def _clusters_star(group: list[int], neighbors: dict[int, set[int]]) -> list[set[int]]:
    """Reference star-sets: {m} ∪ neighbors(m) per member, dedup by set
    equality keeping first (graph_constructor.py:413-420)."""
    uniq: list[set[int]] = []
    for m in group:
        s = set(neighbors[m]) | {m}
        if s not in uniq:
            uniq.append(s)
    return uniq


def _clusters_cc(group: list[int], neighbors: dict[int, set[int]]) -> list[set[int]]:
    """Connected components over the ≥threshold edges (north_star
    mode), ordered by smallest member id."""
    seen: set[int] = set()
    comps: list[set[int]] = []
    for start in group:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            n = stack.pop()
            if n in comp:
                continue
            comp.add(n)
            stack.extend(neighbors[n] - comp)
        seen |= comp
        comps.append(comp)
    return comps


def align_doc(
    mids: list[int], texts: list[str], classes: list[str],
    emb_of, threshold: float, mode: str,
) -> tuple[list[int], list[str], list[list[str]]]:
    """EA merge + IOC unmerge for ONE document's node rows in traversal
    order (subject, object per triple). `emb_of` maps mention text →
    vector; the cosine runs in float64 over whatever vectors it is
    given. Returns per-row (entity_ids, entity_texts, merged).

    Shared by the modular align pass (_align_one_doc) and the fused
    align+graph pass (operators/fused.py)."""
    n = len(mids)
    # node_dict: mention_id -> row indices in traversal order
    node_rows: dict[int, list[int]] = {}
    for i in range(n):
        node_rows.setdefault(mids[i], []).append(i)
    text_of = {m: texts[rows[0]] for m, rows in node_rows.items()}

    # class blocking in first-appearance order
    class_order: list[str] = []
    class_members: dict[str, set[int]] = {}
    for i in range(n):
        c = classes[i]
        if c not in class_members:
            class_members[c] = set()
            class_order.append(c)
        class_members[c].add(mids[i])

    entity_id = 0
    # per-mention assignment (last write wins, as in the reference)
    ent_of: dict[int, tuple[int, str, list[str]]] = {}
    for c in class_order:
        group = sorted(class_members[c])
        if len(group) == 1:
            m = group[0]
            ent_of[m] = (entity_id, text_of[m], [])
            entity_id += 1
            continue
        vecs = np.array([emb_of[text_of[m]] for m in group], dtype=np.float64)
        sims = _cosine_matrix(vecs)
        neighbors: dict[int, set[int]] = {m: set() for m in group}
        for i, m1 in enumerate(group):
            for j in range(i + 1, len(group)):
                if sims[i, j] >= threshold:
                    neighbors[m1].add(group[j])
                    neighbors[group[j]].add(m1)
        clusters = (_clusters_cc if mode == "cc" else _clusters_star)(group, neighbors)
        for cluster in clusters:
            members = sorted(cluster)
            # canonical: frequency argmax, ties → lowest mention_id
            canon = max(members, key=lambda m: (len(node_rows[m]), -m))
            all_texts = [text_of[m] for m in members]
            for m in members:
                ent_of[m] = (entity_id, text_of[canon], [t for t in all_texts if t != text_of[m]])
            entity_id += 1

    ent_ids = [0] * n
    ent_texts = [""] * n
    merged: list[list[str]] = [[] for _ in range(n)]
    for m, rows in node_rows.items():
        e_id, e_text, m_list = ent_of[m]
        for r in rows:
            ent_ids[r] = e_id
            ent_texts[r] = e_text
            merged[r] = list(m_list)

    # --- IOC unmerge (PostProcessor, cti_processor.py:53-115) ---
    entity_idx = entity_id
    first_mid_of_text: dict[str, int] = {}
    for i in range(n):
        first_mid_of_text.setdefault(texts[i], mids[i])
    for i in range(n):
        if not merged[i]:
            continue
        iocs = detect_iocs(merged[i], texts[i])
        if not iocs or len(iocs) < len(merged[i]) + 1:
            continue  # partial-IOC clusters stay merged (reference TODO)
        # deterministic order: first-appearance of the IOC's mention
        for m_text in sorted(iocs, key=lambda t: first_mid_of_text.get(t, 1 << 30)):
            if m_text not in first_mid_of_text:
                continue
            rows = node_rows[first_mid_of_text[m_text]]
            new_id = entity_idx
            if ent_texts[rows[0]] != m_text:
                entity_idx += 1
            for r in rows:
                merged[r] = []
                if texts[r] != ent_texts[r]:
                    ent_ids[r] = new_id
                    ent_texts[r] = m_text
    return ent_ids, ent_texts, merged


def _align_one_doc(pdf: pd.DataFrame, threshold: float, mode: str) -> pd.DataFrame:
    """pandas adapter over align_doc for one document's node rows.
    The vectors are the float32 ones shipped through the url shuffle
    (the fused path embeds in-pass and keeps the model's float64)."""
    pdf = pdf.sort_values("pos", kind="stable").reset_index(drop=True)
    texts = pdf["mention_text"].tolist()
    ent_ids, ent_texts, merged = align_doc(
        pdf["mention_id"].tolist(), texts, pdf["mention_class"].tolist(),
        dict(zip(texts, pdf["embedding"])), threshold, mode,
    )
    out = pdf.drop(columns=["embedding"])
    out["entity_id"] = np.asarray(ent_ids, dtype="int32")
    out["entity_text"] = ent_texts
    out["mention_merged"] = merged
    return out


def align_entities(
    nodes: DataFrame,
    embeddings: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """nodes + per-text embeddings → aligned per-node rows."""
    cfg = config or PipelineConfig()
    thr, mode = cfg.similarity_threshold, cfg.ea_cluster_mode

    # no explicit broadcast hint: distinct mention texts are usually a
    # small fraction of nodes, and AQE promotes the join to broadcast
    # at runtime when the built side is under the threshold — a static
    # hint would force a full-table broadcast at corpus scale.
    with_vecs = nodes.join(embeddings, "mention_text", "left")

    # batched grouped-map: many docs per Arrow exchange instead of the
    # ~2 ms-per-group applyInPandas tax (once per document). NOTE the
    # modular path still ships embedding vectors through the url
    # shuffle — it is the oracle-semantics reference; the production
    # fused path embeds inside the Arrow pass (operators/fused.py).
    def _process(pdf):
        import pandas as pd

        outs = [_align_one_doc(g, thr, mode) for _, g in pdf.groupby("url", sort=False)]
        return pd.concat(outs, ignore_index=True)

    from ctinexus_spark.partitioning import grouped_map_stitched

    return grouped_map_stitched(with_vecs, "url", _process, ALIGNED_SCHEMA)

