"""The benchmark's workloads.

Each workload has an untimed ``prepare``, an ``op`` that calls the
library's composite functions exactly as a job would, a ``traced_op``
that calls the same public sub-functions one layer at a time (each in
its own span, with a barrier at every boundary), and a ``check`` of the
op's committed output. Inputs come from ``datagen.synthesize_documents``
with the run's seed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.checkpoint import StageStore
from ctinexus_spark.client import HttpModelClient
from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.datagen import synthesize_documents
from ctinexus_spark.graph.components import connected_components
from ctinexus_spark.model import FlakyLinkModel, StubModel
from ctinexus_spark.operators.dedup import MAX_BUCKET, embedding_near_dups_lsh
from ctinexus_spark.operators.ea import embed_mentions
from ctinexus_spark.operators.fused import (
    align_graph_triples,
    extract_and_tag,
    extracted_triples,
    fused_kg,
    link_main_pairs,
)
from ctinexus_spark.operators.normalize import normalize_documents
from ctinexus_spark.operators.prepare import dedupe_by_key
from ctinexus_spark.operators.resolve import global_entity_resolution
from ctinexus_spark.operators.similarity import cap_buckets, lsh_band_buckets
from ctinexus_spark.partitioning import barrier
from ctinexus_spark.pipeline import run_pipeline_checkpointed
from model_io import CountingStubModel, StubTransport

# kg-resume's simulated model service: a fixed service time per request
# and the share of requests (per mille, by prompt hash) whose first
# attempt fails. The client keeps its default max_concurrency. At 200 ms
# waiting on the model is 52-63% of an op's wall (client.wait_frac); at
# 150 ms it was under half.
SERVICE_S = 0.2
FAIL_PERMILLE = 50

ER_THRESHOLD = 0.6
ER_TEXTS = 1500  # distinct entity texts an entity-resolution op resolves
ALIAS_SHARE = 0.3  # share of them placed in seeded alias sets
# Least share of the seeded alias pairs an op must put in one component.
# An alias pair has cosine ≈ 0.95, which 4 bands × 8 planes catch with
# probability ≈ 0.89 (3-sets add paths); 0.91-0.96 is what runs give. A
# resolver that merged nothing, or dropped the LSH or CC step, scores 0.
MIN_RECALL = 0.85


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    counters: object
    tracer: object = None
    info: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read_input(self) -> DataFrame:
        """The seeded corpus, one row per url: crawls re-fetch pages, and
        the pipeline's key must be unique, so jobs dedupe first."""
        return dedupe_by_key(self.spark.read.parquet(self.path("input")), "url")


def write_input(ctx: Ctx, n_docs: int) -> None:
    synthesize_documents(ctx.spark, n_docs=n_docs, seed=ctx.seed).write.parquet(ctx.path("input"))


def kg_digest(df: DataFrame) -> tuple[int, int]:
    """(rows, Σ row hash): equal for equal multisets of KG rows."""
    h = F.xxhash64("url", "subj", "pred", "obj", "source").cast("decimal(38,0)")
    r = df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def entity_count(df: DataFrame) -> int:
    return df.select(F.col("subj").alias("t")).union(df.select("obj")).distinct().count()


def predicted_links(links: DataFrame) -> DataFrame:
    """The accepted-link projection ``fused_kg`` and
    ``run_pipeline_checkpointed`` apply to the LP output."""
    return links.filter(F.col("status") == "ok").select(
        "url",
        F.col("subject_text").alias("subj"),
        F.col("relation").alias("pred"),
        F.col("object_text").alias("obj"),
        F.lit("predicted").alias("source"),
    )


def _versions(store: StageStore, stage: str) -> int:
    """Snapshot versions a stage's manifest names (the layout
    ``checkpoint.py`` documents)."""
    with open(os.path.join(store.root, stage, "_MANIFEST.json")) as f:
        return len(json.load(f)["versions"])


def _tree_size(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class CheckFailed(AssertionError):
    """An op's committed output is wrong."""


def require(ok: bool, message: str) -> None:
    if not ok:
        raise CheckFailed(message)


class Workload:
    name = ""
    n_docs = 0
    docs_per_op = 0  # documents an op covers, for docs_per_s
    entities = 0  # distinct entity texts an op's output holds
    min_ops = 2  # ops a run measures after the cold ones, however short --seconds is
    first_ops = 1  # cold ops for first_run_s, each in a fresh SparkContext

    def prepare(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def op(self, ctx: Ctx, out: str) -> float:
        """Run the composite; return its wall seconds."""
        raise NotImplementedError

    def traced_op(self, ctx: Ctx, out: str, op_id: str) -> tuple[float, dict]:
        """Run the layers in spans under root span "op"; return its wall
        seconds and the layers' work counts, read from the barriered
        frames outside the spans and before their blocks are released."""
        raise NotImplementedError

    def check(self, ctx: Ctx, out: str) -> dict:
        """Raise CheckFailed when the committed output is wrong; return
        what the check measured, for the log."""
        raise NotImplementedError


class KgResume(Workload):
    """Resume a checkpointed run whose stages hold 90% of the corpus,
    through HttpModelClient and a simulated remote model: only the 10%
    delta passes through the model stages."""

    name = "kg-resume"
    n_docs = 1000

    def model(self, ctx: Ctx):
        transport = StubTransport(ctx.counters, SERVICE_S, FAIL_PERMILLE)
        return HttpModelClient("bench-llm", transport=transport)

    def prepare(self, ctx: Ctx) -> None:
        cfg = PipelineConfig()
        docs = ctx.read_input()
        # the committed 90%: a seeded 90% of the urls; the earlier run
        # called the same model semantics in-process
        urls = sorted(r[0] for r in docs.select("url").distinct().collect())
        delta = random.Random(ctx.seed).sample(urls, len(urls) // 10)
        old = docs.filter(~F.col("url").isin(delta))
        self.docs_per_op = len(delta)
        # the snapshot and the reference (the one-pass fused KG of the
        # whole corpus) are independent: build them side by side
        with ThreadPoolExecutor(2) as pool:
            jobs = [
                pool.submit(run_pipeline_checkpointed, ctx.spark, old, FlakyLinkModel(cfg),
                            StageStore(ctx.path("snapshot")), cfg),
                pool.submit(lambda: fused_kg(normalize_documents(docs, lang_filter="en"), FlakyLinkModel(cfg),
                                             cfg).write.parquet(ctx.path("ref"))),
            ]
            for job in jobs:
                job.result()
        self.snapshot_files, self.snapshot_bytes = _tree_size(ctx.path("snapshot"))
        ref = ctx.spark.read.parquet(ctx.path("ref"))
        self.expected = kg_digest(ref)
        self.entities = entity_count(ref)
        ctx.info.update(new_docs=self.docs_per_op, ref_rows=self.expected[0], service_s=SERVICE_S,
                        fail_permille=FAIL_PERMILLE, max_concurrency=self.model(ctx).max_concurrency)

    def restore(self, ctx: Ctx, out: str) -> StageStore:
        """Untimed: a fresh copy of the 90% snapshot for this op."""
        shutil.copytree(ctx.path("snapshot"), out + ".store")
        return StageStore(out + ".store")

    def op(self, ctx: Ctx, out: str) -> float:
        store = self.restore(ctx, out)
        t0 = time.perf_counter()
        kg = run_pipeline_checkpointed(ctx.spark, ctx.read_input(), self.model(ctx), store, PipelineConfig())
        kg.write.parquet(out)
        return time.perf_counter() - t0

    def traced_op(self, ctx: Ctx, out: str, op_id: str) -> tuple[float, dict]:
        tr, cfg, model = ctx.tracer, PipelineConfig(), self.model(ctx)
        store = self.restore(ctx, out)
        remaining = store.remaining(ctx.spark, ctx.read_input(), "documents_clean").count()
        counts = {"remaining_frac": remaining / ctx.read_input().count()}

        inputs: dict[str, DataFrame] = {}
        outputs: dict[str, DataFrame] = {}

        def layer(name, fn):
            def transform(todo):
                inputs[name] = todo = barrier(todo)  # the anti-join, in stagestore's span
                with tr.span(name, op_id):
                    outputs[name] = barrier(fn(todo))
                return outputs[name]
            return transform

        def stage(name, rows, layer_name, fn):
            with tr.span("stagestore", op_id):
                return store.run_stage(ctx.spark, name, rows, layer(layer_name, fn), key="url")

        t0 = time.perf_counter()
        with tr.span("op", op_id):
            with tr.span("barrier", op_id):
                docs_in = barrier(ctx.read_input())
            docs = stage("documents_clean", docs_in, "normalize",
                         lambda d: normalize_documents(d, lang_filter="en"))
            typed = stage("triples_typed", docs, "ie_et", lambda d: extract_and_tag(d, model))
            fused = stage("kg_fused_rows", typed, "align", lambda t: align_graph_triples(t, model, cfg))
            links = stage("kg_links", fused.filter(F.col("row_type") == "main_pair"), "lp",
                          lambda fr: link_main_pairs(fr, docs, model))
            extracted_triples(fused).unionByName(predicted_links(links)).write.parquet(out)
        wall = time.perf_counter() - t0
        files, size = _tree_size(out + ".store")
        counts.update(
            files_written=files - self.snapshot_files,
            bytes_written=size - self.snapshot_bytes,
            versions=sum(_versions(store, s) for s in
                         ("documents_clean", "triples_typed", "kg_fused_rows", "kg_links")),
        )
        # the layers' own work this op: the delta, not the stage loads
        docs, typed, fused, links = outputs["normalize"], outputs["ie_et"], outputs["align"], outputs["lp"]
        n_typed = typed.count()
        trip = fused.filter("row_type = 'triple'")
        n_trip = trip.count()
        merged = trip.selectExpr("int(size(s_merged) > 0) + int(size(o_merged) > 0) AS m").agg({"m": "sum"}).first()[0]
        n_links = links.count()
        n_ok = links.filter("status = 'ok'").count()
        c = {f"stagestore.{k}": v for k, v in counts.items()}
        c.update({
            "normalize.docs_in": inputs["normalize"].count(),
            "normalize.docs_out": docs.count(),
            "ie_et.docs_in": inputs["ie_et"].count(),
            "ie_et.triples_out": n_typed,
            "ie_et.invalid_frac": typed.filter("NOT valid").count() / max(n_typed, 1),
            "align.triples_out": n_trip,
            "align.main_pairs_out": fused.filter("row_type = 'main_pair'").count(),
            "align.merged_frac": (merged or 0) / max(2 * n_trip, 1),
            "lp.links_ok": n_ok,
            "lp.hallucination_frac": (n_links - n_ok) / max(n_links, 1),
        })
        return wall, c

    def check(self, ctx: Ctx, out: str) -> dict:
        got = kg_digest(ctx.spark.read.parquet(out))
        require(got == self.expected, f"KG differs from the one-pass fused KG: {got} != {self.expected}")
        return {"rows": got[0]}


def _fold_cosine(a: np.ndarray, b: np.ndarray) -> float:
    """cosine_udf's arithmetic: per-dimension left folds in doubles."""
    dot = na = nb = 0.0
    for x, y in zip(a.tolist(), b.tolist()):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (np.sqrt(na) * np.sqrt(nb))


class EntityResolution(Workload):
    """global_entity_resolution over a seeded, fixed-size share of the
    distinct subject and object texts of a committed KG."""

    name = "entity-resolution"
    n_docs = 700
    min_ops = 3
    # The cold op is CPU-bound, and one sample of it spread 0.21 over 10
    # runs on a 4-CPU host, close to its bound. The second sample reuses
    # the code the JVM compiled for the first.
    first_ops = 2

    def prepare(self, ctx: Ctx) -> None:
        cfg = PipelineConfig()
        docs = ctx.read_input()
        self.docs_per_op = docs.count()
        fused_kg(normalize_documents(docs, lang_filter="en"), StubModel(cfg), cfg).write.parquet(ctx.path("kg"))
        kg = ctx.spark.read.parquet(ctx.path("kg"))
        mentions = kg.select(F.col("subj").alias("entity_text")).union(kg.select("obj"))
        # a seeded, fixed-size share of the distinct texts (and all their
        # mentions), so every seed resolves the same number of texts
        every = sorted(r[0] for r in mentions.distinct().collect())
        if len(every) < ER_TEXTS:
            raise RuntimeError(f"the KG has {len(every)} distinct texts, fewer than {ER_TEXTS}")
        rng = random.Random(ctx.seed)
        texts = sorted(rng.sample(every, ER_TEXTS))
        mentions.filter(F.col("entity_text").isin(texts)).write.parquet(ctx.path("entities"))
        self.texts = texts
        self.entities = len(texts)
        # seeded alias sets of 2-3 texts: the stub embeds an alias near
        # its canonical text (cosine ≈ 0.95), so CC has components to find
        pool = rng.sample(texts, int(len(texts) * ALIAS_SHARE))
        self.alias_map: dict[str, str] = {}
        self.alias_pairs: list[tuple[str, str]] = []
        i = 0
        while i + 1 < len(pool):
            k = 2 + rng.randrange(2)
            group = pool[i:i + k]
            for alias in group[1:]:
                self.alias_map[alias] = group[0]
                self.alias_pairs.append((group[0], alias))
            i += k
        ctx.info["entity_texts"] = len(texts)
        ctx.info["alias_pairs"] = len(self.alias_pairs)

    def model(self, ctx: Ctx):
        return CountingStubModel(ctx.counters, PipelineConfig(), alias_map=self.alias_map)

    def entities_df(self, ctx: Ctx) -> DataFrame:
        return ctx.spark.read.parquet(ctx.path("entities"))

    def op(self, ctx: Ctx, out: str) -> float:
        model = self.model(ctx)
        t0 = time.perf_counter()
        global_entity_resolution(self.entities_df(ctx), model, ER_THRESHOLD).write.parquet(out)
        return time.perf_counter() - t0

    def traced_op(self, ctx: Ctx, out: str, op_id: str) -> tuple[float, dict]:
        tr, model = ctx.tracer, self.model(ctx)
        t0 = time.perf_counter()
        with tr.span("op", op_id), tr.span("resolve", op_id):
            texts = barrier(self.entities_df(ctx).select("entity_text").distinct())
            with tr.span("embed", op_id):
                emb = embed_mentions(texts.select(F.col("entity_text").alias("mention_text")), model)
                emb = barrier(emb.select(F.col("mention_text").alias("entity_text"), "embedding"))
            with tr.span("lsh", op_id):
                pairs = barrier(embedding_near_dups_lsh(
                    emb, id_col="entity_text", vec_col="embedding", threshold=ER_THRESHOLD,
                    input_materialized=True))
            with tr.span("cc", op_id):
                comps = barrier(connected_components(pairs, "a_id", "b_id"))
            res = texts.join(comps.withColumnRenamed("vertex", "entity_text"), "entity_text", "left").select(
                "entity_text", F.coalesce(F.col("component"), F.col("entity_text")).alias("global_id"))
            res.write.parquet(out)
        wall = time.perf_counter() - t0
        # Σ C(n, 2) over the capped buckets of every band, with
        # embedding_near_dups_lsh's defaults (4 bands × 8 planes)
        bands = cap_buckets(lsh_band_buckets(emb, "entity_text", "embedding", n_bands=4, band_planes=8),
                            ["band_idx", "bucket"], MAX_BUCKET)
        cand = bands.groupBy("band_idx", "bucket").count().agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
        n_pairs = pairs.count()
        return wall, {
            "embed.texts": emb.count(),
            "lsh.candidates": cand,
            "lsh.pairs_out": n_pairs,
            "lsh.pairs_per_candidate": n_pairs / max(cand, 1),
            "cc.vertices": comps.count(),
            "cc.components": comps.select("component").distinct().count(),
            "resolve.recall": self.recall(dict(ctx.spark.read.parquet(out).collect())),
        }

    def recall(self, gid: dict[str, str]) -> float:
        """Share of the seeded alias pairs that share a global_id."""
        hit = sum(gid.get(a) is not None and gid.get(a) == gid.get(b) for a, b in self.alias_pairs)
        return hit / max(len(self.alias_pairs), 1)

    def check(self, ctx: Ctx, out: str) -> dict:
        rows = ctx.spark.read.parquet(out).collect()
        got = [r["entity_text"] for r in rows]
        require(sorted(got) == self.texts, "output texts differ from the resolved distinct texts")
        members: dict[str, list[str]] = {}
        for r in rows:
            members.setdefault(r["global_id"], []).append(r["entity_text"])
        stub = StubModel(PipelineConfig(), alias_map=self.alias_map)
        for gid, texts in members.items():
            require(gid == min(texts), f"global_id {gid!r} is not its component's minimum text")
            if len(texts) == 1:
                continue
            # embeddings as embed_mentions ships them: float32
            vecs = stub.embed(texts).astype(np.float32).astype(np.float64)
            seen, todo = {0}, [0]
            while todo:
                i = todo.pop()
                for j in range(len(texts)):
                    if j not in seen and _fold_cosine(vecs[i], vecs[j]) >= ER_THRESHOLD:
                        seen.add(j)
                        todo.append(j)
            require(len(seen) == len(texts), f"component {gid!r} is not connected at cosine ≥ {ER_THRESHOLD}")
        recall = self.recall({r["entity_text"]: r["global_id"] for r in rows})
        require(recall >= MIN_RECALL, f"alias-pair recall {recall:.3f} < {MIN_RECALL}")
        return {"components": len(members), "recall": round(recall, 4)}


WORKLOADS = {w.name: w for w in (KgResume, EntityResolution)}
