"""Traced runs: spans around the engine's public entry points.

``Tracer.install`` patches each entry point on its module or class, from
this file only -- no engine file changes. A wrapper records a ``Span``
(name, layer, start, end, parent, thread) and tags every Spark job its
thread submits with the layer (``sparkContext.setJobDescription``), so the
event log can charge job CPU, shuffle and spill to layers afterwards.

An entry point called from inside another lakehouse layer's span (the read
``compact`` does, the ``merge_cdc`` an MV refresh does) is that layer's
work, so it opens no span of its own and keeps the enclosing tag.
"""

from __future__ import annotations

import functools
import threading
import time
from typing import Any, Callable

from harness import JOB_TAG, Span

#: layers whose entry points reuse other entry points internally
ABSORBING = {"lakehouse.merge", "lakehouse.read", "lakehouse.compact", "lakehouse.maintain"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside a span (or inside the enclosing absorbing one)."""
        stack = self._stack()
        if stack and self.spans[stack[-1]].layer in ABSORBING:
            return fn(*args, **kwargs)
        s = Span(
            name, layer, time.time(),
            parent=stack[-1] if stack else None,
            thread=threading.get_ident(),
        )
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(JOB_TAG + layer)
        stack.append(idx)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, dict):
                s.counts = {
                    k: v for k, v in out.items() if isinstance(v, (int, float, str))
                }
            elif isinstance(out, list) and out and isinstance(out[0], dict):
                s.counts = {"results": len(out)}
            return out
        finally:
            stack.pop()
            s.end = time.time()
            self.sc.setLocalProperty("spark.job.description", prev)

    def patch(self, owner: Any, attr: str, layer: str, name: str | None = None) -> None:
        orig = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', str(owner)).rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(label, layer, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> "Tracer":
        from sql_etl_pipeline_spark.cdc import apply as apply_mod
        from sql_etl_pipeline_spark.functions import validate as validate_mod
        from sql_etl_pipeline_spark.lakehouse import maintain as maintain_mod
        from sql_etl_pipeline_spark.lakehouse.table import LakeTable
        from sql_etl_pipeline_spark.streaming import ingest as ingest_mod

        self.patch(apply_mod, "apply_batches_pipelined", "cdc.apply")
        self.patch(apply_mod, "apply_batch", "cdc.apply")
        # the ingestor imported apply_batch by name at module load
        self.patch(ingest_mod, "apply_batch", "cdc.apply", "apply.apply_batch")
        self.patch(LakeTable, "merge_cdc", "lakehouse.merge")
        self.patch(LakeTable, "read", "lakehouse.read")
        self.patch(LakeTable, "compact", "lakehouse.compact")
        self.patch(LakeTable, "compact_buckets", "lakehouse.compact")
        # imported lazily inside the ingestor's batch function, so the
        # module attribute is what it resolves
        self.patch(maintain_mod, "refresh_summary_incremental", "lakehouse.maintain")
        self.patch(validate_mod, "validate", "functions.validate")
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


class NullTracer:
    """Untraced runs: the same call sites, no patching, no tagging."""

    def __init__(self):
        self.spans: list[Span] = []

    def span(self, name: str, layer: str, fn: Callable, *args, **kwargs):
        return fn(*args, **kwargs)

    def uninstall(self) -> None:
        pass
