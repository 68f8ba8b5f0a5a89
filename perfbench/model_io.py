"""Model back-ends the benchmark drives the pipeline with.

This module is imported on the driver and shipped to the Python
workers with ``SparkContext.addPyFile``, so the classes below pickle by
reference (``model_io.<name>``) without anything under
``ctinexus_spark/`` knowing about them.

- ``StubTransport`` is the transport ``client.HttpModelClient`` calls.
  It answers in the OpenAI chat/embeddings wire shape with the
  semantics of ``model.FlakyLinkModel`` (the stub, with two chains per
  document so link prediction has work, and deterministic defects in
  some link answers) after a fixed simulated service time,
  and fails a fixed, prompt-hashed share of requests on their first
  attempt so the client's retry path runs.
- ``CountingStubModel`` is ``StubModel`` with the same counters, for
  the workloads that call the stub in-process.

``in_flight_seconds`` turns the request intervals the transport records
into the wall time during which at least one request was waiting on the
model, over every task of every Python worker.

Both add to one dict accumulator (``COUNTER_PARAM``), so counts made on
the executors reach the driver.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time

from pyspark.accumulators import AccumulatorParam

from ctinexus_spark.config import PipelineConfig
from ctinexus_spark.model import FlakyLinkModel, StubModel


class CounterParam(AccumulatorParam):
    """dict accumulator: values add, except keys ending in ``_max``,
    which keep the maximum, and list values, which concatenate."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            if k.endswith("_max"):
                a[k] = max(a.get(k, v), v)
            elif isinstance(v, list):
                a[k] = a.get(k, []) + v
            else:
                a[k] = a.get(k, 0) + v
        return a


COUNTER_PARAM = CounterParam()


def _tokens(text: str) -> int:
    return len(text.split())


class CountingStubModel(StubModel):
    """StubModel that counts interface calls and whitespace tokens of
    what goes in and comes out of each call."""

    def __init__(self, counters, config: PipelineConfig | None = None, alias_map=None):
        super().__init__(config, alias_map)
        self.counters = counters

    def _count(self, texts_in: list[str], texts_out: list[str], embed_texts: int = 0) -> None:
        self.counters.add({
            "calls": 1,
            "tokens_in": sum(_tokens(t) for t in texts_in),
            "tokens_out": sum(_tokens(t) for t in texts_out),
            "embed_calls": 1 if embed_texts else 0,
            "embed_texts": embed_texts,
        })

    def extract(self, texts):
        out = super().extract(texts)
        self._count(texts, out)
        return out

    def tag(self, texts, triples_per_doc):
        out = super().tag(texts, triples_per_doc)
        self._count([json.dumps(t) for t in triples_per_doc], out)
        return out

    def embed(self, texts):
        out = super().embed(texts)
        if texts:
            self._count(texts, [], embed_texts=len(texts))
        return out

    def link_batch(self, items):
        out = super().link_batch(items)
        self._count([f"{d} {m} {t}" for d, m, t in items], out)
        return out


class TransientModelError(ConnectionError):
    """The simulated first-attempt failure."""


_IE_HEAD, _ET_HEAD, _LP_HEAD = "You extract", "You classify", "Read the threat report"


def _between(content: str, start: str, end: str) -> str:
    i = content.rindex(start) + len(start)
    return content[i:content.index(end, i)]


class StubTransport:
    """request dict → response dict, in the OpenAI wire shape.

    Every request sleeps ``service_s`` first, as a remote model would
    keep the connection waiting. A request whose prompt hash falls in
    the first ``fail_permille`` of 1000 fails once per occurrence: the
    attempt raises, the client's retry on the same thread succeeds."""

    def __init__(self, counters, service_s: float, fail_permille: int, config: PipelineConfig | None = None):
        self.counters = counters
        self.service_s = service_s
        self.fail_permille = fail_permille
        self.stub = FlakyLinkModel(config or PipelineConfig())
        self._inflight = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    # locks do not pickle: drop them, and make fresh ones when a task
    # unpickles the transport, before the client's pool calls it
    def __getstate__(self):
        state = dict(self.__dict__)
        del state["_lock"], state["_local"]
        state["_inflight"] = 0
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _fails_first(self, key: str) -> bool:
        h = int.from_bytes(hashlib.md5(key.encode("utf-8")).digest()[:4], "big")
        if h % 1000 >= self.fail_permille:
            return False
        if getattr(self._local, "failed", None) == key:
            self._local.failed = None  # the retry of the attempt that failed
            return False
        self._local.failed = key
        return True

    def _answer(self, content: str) -> str:
        if content.startswith(_IE_HEAD):
            return self.stub.extract([_between(content, "\nReport:\n", "\nOutput JSON only.")])[0]
        if content.startswith(_ET_HEAD):
            triples = json.loads(_between(content, "\nTriples:\n", "\nOutput JSON only."))
            return self.stub.tag([], [triples])[0]
        if content.startswith(_LP_HEAD):
            main = _between(content, "\nEntity A: ", "\nEntity B: ")
            topic = _between(content, "\nEntity B: ", "\nReturn JSON")
            return self.stub.link("", main, topic)
        raise ValueError("unrecognised prompt")

    def __call__(self, payload: dict) -> dict:
        endpoint = payload.get("_endpoint", "/chat/completions")
        if endpoint == "/embeddings":
            texts = payload["input"]
            key = "\x00".join(texts)
        else:
            content = payload["messages"][-1]["content"]
            key = content
        with self._lock:
            self._inflight += 1
            inflight = self._inflight
        t_start = time.time()  # wall clock: comparable across the worker processes
        try:
            time.sleep(self.service_s)
            failed = self._fails_first(key)
            if not failed:
                if endpoint == "/embeddings":
                    vecs = self.stub.embed(texts)
                    n_in = sum(_tokens(t) for t in texts)
                    response = {
                        "object": "list",
                        "data": [{"object": "embedding", "index": i, "embedding": v.tolist()}
                                 for i, v in enumerate(vecs)],
                        "usage": {"prompt_tokens": n_in, "total_tokens": n_in},
                    }
                    n_out = 0
                else:
                    answer = self._answer(content)
                    n_in, n_out = _tokens(content), _tokens(answer)
                    response = {
                        "object": "chat.completion",
                        "choices": [{"index": 0, "finish_reason": "stop",
                                     "message": {"role": "assistant", "content": answer}}],
                        "usage": {"prompt_tokens": n_in, "completion_tokens": n_out,
                                  "total_tokens": n_in + n_out},
                    }
        finally:
            with self._lock:
                self._inflight -= 1
        counts = {
            "calls": 1,
            "service_s": self.service_s,
            "inflight_sum": inflight,
            "inflight_max": inflight,
            "wait_intervals": [(t_start, time.time())],
        }
        if failed:
            counts["failed_calls"] = 1
        else:
            counts.update(tokens_in=n_in, tokens_out=n_out)
            if endpoint == "/embeddings":
                counts.update(embed_calls=1, embed_texts=len(texts))
        with self._lock:  # Accumulator.add is a read-modify-write
            self.counters.add(counts)
        if failed:
            raise TransientModelError("simulated transient failure")
        # the wire: a real transport parses the JSON body it receives
        return json.loads(json.dumps(response))


def in_flight_seconds(intervals) -> float:
    """Length of the union of (start, end) wall-clock intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
