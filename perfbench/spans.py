"""Layer spans recorded from the benchmark's side of the program boundary.

``install_layers`` wraps the public entry points of each layer (module
attributes and class methods of ``search_replica_spark``) in place; nothing
under ``search_replica_spark/`` is edited. A span is (name, start, end,
parent, request id, counts); spans stay in memory and are written out once,
at the end of the run. A layer's self time is its span minus the time its
child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, request, counts]
        self.enabled = False
        self.request: str | None = None
        self._stack: list[int] = []

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``count``
        maps (args, result) to a dict of counts stored on the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            rec = [name, 0.0, 0.0, self._stack[-1] if self._stack else None, self.request, None]
            self._stack.append(len(self.spans))
            self.spans.append(rec)
            rec[1] = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                rec[2] = time.perf_counter()
                self._stack.pop()
            if count is not None:
                rec[5] = count(args, out)
            return out

        setattr(owner, attr, wrapper)

    def self_times(self) -> list[float]:
        """Per-span self time (duration minus direct children)."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] is not None:
                own[s[3]] -= s[2] - s[1]
        return own

    def by_layer(self) -> dict[str, dict]:
        """{name: {"n", "self_s", "total_s", counts...}}."""
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        own = self.self_times()
        for s, st in zip(self.spans, own):
            agg = out[s[0]]
            agg["n"] += 1
            agg["self_s"] += st
            agg["total_s"] += s[2] - s[1]
            for k, v in (s[5] or {}).items():
                agg[k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(
                    ("name", "start", "end", "parent", "request", "counts"), s))) + "\n")


def install_layers(tracer: Tracer) -> None:
    """Wrap each layer's public entry points (see README.md, "Layers")."""
    from search_replica_spark.query import bm25, dsl
    from search_replica_spark.streaming import incremental

    rows = lambda a, out: {"rows": len(out)}  # noqa: E731
    for cls in (bm25.IndexReader, incremental.MultiGenReader):
        tracer.wrap(cls, "pin_driver", "reader.pin")
        tracer.wrap(cls, "doc_arrays", "reader.doc_arrays")
        tracer.wrap(cls, "fetch_blocks", "reader.fetch_blocks", rows)
    tracer.wrap(bm25, "decode_doc_blocks", "codec.decode",
                lambda a, out: {"postings": int(out.size), "blocks": len(a[0])})
    tracer.wrap(bm25, "varint_decode", "codec.decode")
    tracer.wrap(bm25, "bool_topk", "scorer", rows)
    tracer.wrap(bm25.TermAtATimeScorer, "score", "scorer", rows)
    tracer.wrap(bm25, "tokenize_text", "analysis.tokenize")
    tracer.wrap(dsl, "execute_request", "dsl",
                lambda a, out: {"returned": len(out["hits"]["hits"]),
                                "matched": out["hits"]["total"]["value"]})
