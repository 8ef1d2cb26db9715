"""The two workloads: fixtures, warm-up, the timed operations, checks.

A workload's ``setup`` builds its fixtures and warms the engine (all of
it counts in ``setup_s``); ``ops`` returns the timed script as
``(label, module, callable)`` triples; ``verify`` runs after the timed
region and returns the problems it found (empty when the outputs are
right).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
import plan
from oracle import QueryOracle
from sparkstats import dir_bytes

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


class Ctx:
    """What a workload needs from the run. ``tracer`` is set for the
    timed region of a traced run only."""

    def __init__(self, spark, jvm, data_dir, run_dir, seed, seconds):
        self.spark = spark
        self.jvm = jvm
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = None

    def span(self, name: str, layer: str, fn, *a, **kw):
        if self.tracer is None:
            return fn(*a, **kw)
        return self.tracer.call(name, layer, fn, *a, **kw)


def warm_unit(ctx: Ctx, fn) -> dict:
    """Run one warm-up unit; returns its wall seconds and JIT ms."""
    j0, t0 = ctx.jvm.jmx()["jit_ms"], time.perf_counter()
    fn()
    return {"wall_s": time.perf_counter() - t0, "jit_ms": ctx.jvm.jmx()["jit_ms"] - j0}


class Workload:
    """Defaults for what a workload does not measure. ``ops`` returns
    ``(label, operator module or None, callable)`` triples."""

    table_dirs: tuple = ()  # run-dir subdirectories holding its tables

    def catalyst(self) -> dict:
        return {}


# Warm-up passes of query_mix. JIT time has not settled after two (the
# second pass still costs about a third of the first's), but a third pass
# does not fit the measurement round's time budget.
WARM_PASSES = 2


# --- query_mix -------------------------------------------------------------------


class QueryMix(Workload):
    name = "query_mix"

    def setup(self, ctx: Ctx) -> list[dict]:
        from spark_iceberg_schema_evolution_spark.queries import REGISTRY, TABLES

        self.ctx = ctx
        self.registry = REGISTRY
        self.problems: list[str] = []
        self.reference: dict[str, int] = {}
        self.checksums: dict[str, list] = {}
        self.consumed: list = []  # (name, java DataFrame) for Catalyst phases
        # checksums recorded for this dataset, if it is byte-identical to
        # the one they were recorded on; otherwise the first warm-up pass
        # checks every query against its DuckDB oracle instead
        with open(EXPECTED) as fh:
            recorded = json.load(fh)
        self.recorded = (
            recorded["query_checksums"]
            if recorded["data_sha256"] == datagen.fingerprint(ctx.data_dir)
            else None
        )
        oracle = None if self.recorded else QueryOracle(ctx.data_dir, list(TABLES))
        passes = iter(plan.query_warmup(ctx.seed, WARM_PASSES))

        def one_pass():
            names = next(passes)
            if oracle is not None and not self.reference:
                for name in names:
                    q = REGISTRY[name]
                    df = q.spark_fn(ctx.spark, ctx.data_dir)
                    rows = [tuple(r) for r in df.collect()]
                    why = oracle.check(q.oracle, df.columns, rows)
                    if why:
                        self.problems.append(f"{name}: oracle mismatch: {why}")
            for name in names:
                self.reference[name] = self._consume(name)[0]

        return [warm_unit(ctx, one_pass) for _ in range(WARM_PASSES)]

    def _consume(self, name: str):
        q = self.registry[name]
        df = self.ctx.span(
            f"queries.{name}", "queries", q.spark_fn, self.ctx.spark, self.ctx.data_dir
        )
        out = df.select(F.sum(F.hash(*df.columns)))
        val = self.ctx.span("exec.consume", "exec", out.collect)[0][0]
        return val, out

    def ops(self) -> list:
        def run(name):
            def fn():
                val, out = self._consume(name)
                self.checksums.setdefault(name, []).append(val)
                self.consumed.append((name, out._jdf))

            return fn

        n = plan.units(self.name, self.ctx.seconds)
        return [
            (name, plan.QUERIES[name], run(name))
            for name in plan.query_passes(self.ctx.seed, n)
        ]

    def verify(self) -> list[str]:
        problems = list(self.problems)
        want = self.recorded or self.reference
        for name, vals in sorted(self.checksums.items()):
            if any(v != want.get(name) for v in vals + [self.reference[name]]):
                problems.append(
                    f"{name}: checksums {vals} (warm-up {self.reference[name]}) "
                    f"!= expected {want.get(name)}"
                )
        return problems

    def bytes_per_row(self) -> float:
        # read-only workload: the stored bytes are the generated inputs
        b = r = 0
        for f in os.listdir(self.ctx.data_dir):
            if f.endswith(".parquet"):
                p = os.path.join(self.ctx.data_dir, f)
                b += os.path.getsize(p)
                r += pq.ParquetFile(p).metadata.num_rows
        return b / r

    def catalyst(self) -> dict:
        """Catalyst phase milliseconds summed over the timed queries, read
        from each consumed DataFrame's tracker after the timed region."""
        tot = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for _, jdf in self.consumed:
            phases = jdf.queryExecution().tracker().phases()
            for k in tot:
                p = phases.get(k)
                if p.isDefined():
                    tot[k] += float(p.get().durationMs())
        return tot


# --- corpus_ingest ------------------------------------------------------------------

class CorpusIngest(Workload):
    name = "corpus_ingest"
    table_dirs = ("corpus",)

    def setup(self, ctx: Ctx) -> list[dict]:
        from spark_iceberg_schema_evolution_spark.jobs import ingest_incremental

        self.ctx = ctx
        # Adaptive query execution off for this workload: with it on,
        # which shuffle stages it materialises as jobs of their own
        # depends on which stages finish first, and in 3 of about 93
        # runs a night had one job, stage and task more (one more job
        # just before ``kept.count()`` in ingest_increment), so the
        # counts check failed. Static plans make the counts a function
        # of the data.
        ctx.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.job = ingest_incremental  # looked up per call: the traced run wraps it
        self.wh = os.path.join(ctx.run_dir, "corpus")
        self.incoming = os.path.join(ctx.run_dir, "incoming")
        staged = os.path.join(ctx.run_dir, "staged")
        os.makedirs(self.incoming)
        os.makedirs(staged)
        self.args = ingest_incremental.build_parser().parse_args(
            [
                "--warehouse", self.wh, "--namespace", "db", "--corpus", "docs",
                "--input", self.incoming, "--near-dedup", "0.7",
                "--bloom-columns", "doc_id", "--rollup-target", "docs_rollup",
                "--rollup-group-by", "source,lang",
            ]
        )
        n_timed = plan.units(self.name, ctx.seconds)
        self.nights = plan.corpus_nights(n_timed, datagen.POOL_DOCS)
        # every night file is written now, and moved into the input
        # directory just before its ingest, so the timed region does no
        # file writing of its own
        source = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        schema = source.schema.remove_metadata()
        docs = source.to_pylist()
        self.files = []
        for i, night in enumerate(self.nights):
            rows = [docs[d] for d in night["new"]] + [docs[d] for d in night["recrawl"]]
            for d in night["edited"]:
                text = datagen.edited_copy(docs[d]["text"], i)
                rows.append(
                    dict(docs[d], doc_id=1_000_000 * (i + 1) + d, text=text, n_chars=len(text))
                )
            path = os.path.join(staged, f"night{i:03d}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
            self.files.append(path)
        self.reports: list = []
        self.expected_rows = 0
        # the bootstrap is the warm-up: a second night in set-up does not
        # fit the measurement round's time budget
        return [warm_unit(ctx, lambda: self._night(0))]

    def _night(self, i: int) -> None:
        f = self.files[i]
        os.rename(f, os.path.join(self.incoming, os.path.basename(f)))
        report = self.job.ingest_increment(self.ctx.spark, self.args)
        self.expected_rows += len(self.nights[i]["new"])
        self.reports.append((i, report, self.expected_rows))

    def ops(self) -> list:
        return [("night", None, lambda i=i: self._night(i)) for i in range(1, len(self.nights))]

    def verify(self) -> list[str]:
        problems = []
        for i, rep, rows in self.reports:
            night = self.nights[i]
            want = {"ingested": len(night["new"]), "corpus_rows": rows}
            if i:
                want["near_dup_dropped"] = len(night["edited"])
            got = {k: rep.get(k) for k in want}
            if got != want:
                problems.append(f"night {i}: report {got} != expected {want}")
        from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

        corpus = LakehouseCatalog(self.ctx.spark, self.wh).table("db", "docs").read()
        n, distinct = corpus.agg(
            F.count(F.lit(1)), F.countDistinct(F.md5("text"))
        ).collect()[0]
        if n != distinct:
            problems.append(f"corpus holds {n - distinct} texts more than once by md5")
        return problems

    def bytes_per_row(self) -> float:
        return dir_bytes(self.wh) / max(1, self.expected_rows)


WORKLOADS = {w.name: w for w in (QueryMix, CorpusIngest)}
