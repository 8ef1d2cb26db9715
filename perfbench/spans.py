"""Spans around calls into the engine's layers, for the traced run only.

Wrappers are installed at runtime from the benchmark's own files; the
engine is not edited. A span records its name, layer, the operation it
belongs to, its parent, wall start/end (epoch seconds, to line up with
Spark's job submission times) and inclusive process CPU. The
end-to-end run installs nothing and records no spans.
"""

from __future__ import annotations

import functools
import importlib
import time

# (module, attribute, layer) of every entry point wrapped in a traced run.
# Functions the engine imports inside a function body are looked up on
# the module at call time, so patching the module attribute reaches them.
_PKG = "spark_iceberg_schema_evolution_spark"
# The LakehouseTable methods corpus_ingest calls (the only declared
# workload that enters the tables layer).
TABLE_METHODS = (
    "append", "merge_into", "read", "diff_additive", "row_count",
    "build_bloom_index", "consume_changes", "commit_offset",
)
ENTRY_POINTS = (
    [(f"{_PKG}.tables", f"LakehouseTable.{m}", "tables") for m in TABLE_METHODS]
    + [
        (f"{_PKG}.sources.copy_into", "copy_into", "sources"),
        (f"{_PKG}.jobs.ingest_incremental", "ingest_increment", "jobs"),
        (f"{_PKG}.operators.rollup", "refresh_rollup", "operators"),
        (f"{_PKG}.streaming.windows", "run_to_memory", "streaming"),
    ]
    + [
        (f"{_PKG}.operators.dedup", f, "operators")
        for f in (
            "exact_dedup", "incremental_near_dedup", "minhash_signature",
            "reconcile_signature_store", "jaccard_pairs",
        )
    ]
)


class Tracer:
    def __init__(self, cpu_ms):
        self.cpu_ms = cpu_ms  # () -> inclusive process CPU in ms
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op = None
        self.overhead_s = 0.0  # time spent in span bookkeeping

    def begin(self, name: str, layer: str) -> int:
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "layer": layer,
                "op": self.op,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "cpu0": self.cpu_ms(),
            }
        )
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        return sid

    def end(self, sid: int) -> None:
        t0 = time.perf_counter()
        s = self.spans[sid]
        s["end"] = time.time()
        s["cpu_ms"] = self.cpu_ms() - s.pop("cpu0")
        self._stack.pop()
        self.overhead_s += time.perf_counter() - t0

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        sid = self.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(sid)

    def install(self) -> None:
        for mod_name, attr, layer in ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1])
            name = f"{layer}.{parts[-1]}"
            if layer == "operators":
                name = f"operators.{mod_name.rsplit('.', 1)[1]}.{parts[-1]}"
            elif layer == "streaming":
                name = "streaming.windows"

            def wrapper(*a, __orig=orig, __name=name, __layer=layer, **kw):
                return self.call(__name, __layer, __orig, *a, **kw)

            setattr(owner, parts[-1], functools.wraps(orig)(wrapper))
            self._patched.append((owner, parts[-1], orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, int]:
    """Jobs per span, inclusive of its descendants. A job goes to the
    innermost span of its operation (job group) whose wall interval holds
    its submission time."""
    by_op: dict = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    direct: dict[int, int] = {}
    for j in jobs:
        t = j["submissionTime"] / 1000.0
        best = None
        for s in by_op.get(j.get("jobGroup"), ()):
            # submission times are whole milliseconds, truncated
            if s["start"] - 0.001 <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        if best is not None:
            direct[best["id"]] = direct.get(best["id"], 0) + 1
    parent = {s["id"]: s["parent"] for s in spans}
    out: dict[int, int] = {}
    for sid, n in direct.items():
        while sid is not None:
            out[sid] = out.get(sid, 0) + n
            sid = parent[sid]
    return out
