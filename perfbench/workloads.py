"""The benchmark's workloads: inputs, one timed pass, and output checks.

A pass is one closed-loop request: the next starts only after the
previous one has produced its complete result. ``spark.catalog
.clearCache()`` runs before every pass, so no pass reads another pass's
persisted results.
"""

from __future__ import annotations

import hashlib
import os
import random
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq

# Why these corpus queries: they carry the driver-side build costs the
# engine's build layer is judged on (dd_simhash's wide expressions,
# dd_cluster's eager size gates, sim_ann_ivfpq's build jobs), Arrow
# mapInPandas workers (mm_phash), the cache entries dd_minhash_lsh and
# dd_cluster leave behind, and the streaming layer (st_session). The
# set is cut to what one cold pass can run inside the run-time budget.
CORPUS_QUERIES = (
    "dd_exact", "dd_minhash_lsh", "dd_simhash", "dd_cluster",
    "sim_ann_ivfpq", "tok_bpe_merges", "mm_phash",
    "st_session",
)

# (row count, order-insensitive value hash) of each query's result on
# sf0.1, as pin_expected.py prints them: from the query's DuckDB oracle,
# or for SPARK_PINNED from the package's own output when this benchmark
# was added. Running the oracles live costs 12 s (mm_phash) to over
# 10 minutes (dd_cluster's all-pairs join) per process on a 4-core
# host, more than a whole run.
# dd_minhash_lsh and dd_simhash have no oracle; dd_cluster's oracle was
# checked against Spark on sf0.01 instead.
SPARK_PINNED = ("dd_minhash_lsh", "dd_simhash", "dd_cluster")
EXPECTED = {
    "dd_exact": (4992, "4b365caa8d01a92e94c30637bc589570e46c8b49e9a3f9e868049af677568f5f"),
    "dd_minhash_lsh": (256, "edaae29acf90eb486be5fe054a4720494f4d00eea9779bb4df3aac448e5f4369"),
    "dd_simhash": (525, "9876f7c6dbd96ddb14f0e46d9fe2750c949509afd8fa041cd2d129a632398868"),
    "dd_cluster": (158, "ce7e9974bba604b7e9ccad146769478643d62414e4c685a48a8eca6b35c9e7e2"),
    "sim_ann_ivfpq": (10, "325eadea4efa8b5c919aa6bc03ebd7d8ef304c4a70d3cae99650ed8bc2414a32"),
    "tok_bpe_merges": (5, "bb8a74922802caa3229f2d7577f8b063cb49f12ff9e249c5f5136bc1f1ae5f36"),
    "mm_phash": (908, "9449a7218a987d30adef869704767f992742652115a47f3443f596d88e4704d0"),
    "st_session": (95465, "6d8cd0aa11a952787d1e6ea7edb3ffeecb7a688b0cfb155a1037f3fde232f4ec"),
}


def rows_hash(rows) -> str:
    """Order-insensitive hash of an iterable of row tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class _Phases:
    """Build / plan / exec phases of one request, each a job group and,
    when tracing, a span."""

    def __init__(self, spark, tracer, run: str):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.run = run

    @contextmanager
    def phase(self, query: str, phase: str):
        if self.tracer is None:
            yield
            return
        self.sc.setJobGroup(f"{self.run}|{query}|{phase}", phase)
        try:
            with self.tracer.span(f"{query}.{phase}"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def query(self, query: str):
        return self.tracer.span(query) if self.tracer else nullcontext()


def executed_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class SanctionsRefresh:
    """The paper's pipeline: EU-style XML feed + travel-ban PDF ->
    analyst table, written as parquet and read back for checking."""

    name = "sanctions_refresh"
    n_entities = 6_000

    def __init__(self, work_dir: str, seed: int):
        import sanctions_gen
        self.xml, self.pdf, self.expected = sanctions_gen.write_inputs(
            os.path.join(work_dir, "inputs"), seed,
            sanctions_gen.FeedSpec(n_entities=self.n_entities))
        self.out = os.path.join(work_dir, "analyst.parquet")
        self.records = len(self.expected)

    def run_pass(self, spark, tracer, run: str) -> dict:
        from sanctions_data_pipeline_spark.pipeline import run_pipeline
        from sanctions_data_pipeline_spark.sources.pdf_source import extract_pdf_text
        from sanctions_data_pipeline_spark.sources.sinks import write_output

        ph = _Phases(spark, tracer, run)
        with ph.query(self.name):
            with ph.phase(self.name, "build"):
                out = run_pipeline(spark, self.xml, extract_pdf_text(spark, self.pdf))
            with ph.phase(self.name, "plan"):
                executed_plan(out)
            with ph.phase(self.name, "exec"):
                write_output(out, self.out)
        return {}

    def verify(self, results: dict) -> list[str]:
        import sanctions_gen
        got = [tuple(r[c] for c in sanctions_gen.COLUMNS)
               for r in pq.read_table(self.out).to_pylist()]
        problems = []
        if len(got) != len(self.expected):
            problems.append(f"rowcount {len(got)} != {len(self.expected)}")
        elif rows_hash(got) != rows_hash(self.expected):
            bad = set(got) ^ set(self.expected)
            problems.append(f"{len(bad)} rows differ, e.g. {sorted(bad)[:1]}")
        return [f"{self.name}: {p}" for p in problems]


class RegistryRun:
    """A fixed set of registry queries on one table directory, run one at
    a time in a seed-shuffled order; each result is collected to the
    driver through Arrow (the sink)."""

    def __init__(self, name: str, queries: tuple[str, ...], sf_dir: str,
                 seed: int, record_tables: tuple[str, ...]):
        self.name = name
        self.sf_dir = sf_dir
        self.queries = list(queries)
        random.Random(seed).shuffle(self.queries)
        self.records = sum(
            pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows
            for t in record_tables)

    def run_pass(self, spark, tracer, run: str) -> dict:
        from sanctions_data_pipeline_spark.plans import registry

        ph = _Phases(spark, tracer, run)
        results = {}
        for q in self.queries:
            with ph.query(q):
                with ph.phase(q, "build"):
                    df = registry.REGISTRY[q].build(spark, self.sf_dir)
                with ph.phase(q, "plan"):
                    executed_plan(df)
                with ph.phase(q, "exec"):
                    results[q] = df.toPandas()
        return results

    def verify(self, results: dict) -> list[str]:
        from tools.check_oracle import canon

        problems = []
        for q, pdf in results.items():
            got, want = (len(pdf), rows_hash(canon(pdf))), EXPECTED[q]
            if got != want:
                problems.append(f"{q}: rows/hash {got[0]}/{got[1][:12]} "
                                f"!= expected {want[0]}/{want[1][:12]}")
        return problems


def make(name: str, work_dir: str, seed: int, sf_dir: str):
    if name == "sanctions_refresh":
        return SanctionsRefresh(work_dir, seed)
    if name == "corpus_curation":
        return RegistryRun(name, CORPUS_QUERIES, sf_dir, seed,
                           ("documents", "embeddings", "events"))
    raise ValueError(f"unknown workload {name!r}")
