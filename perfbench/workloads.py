"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare(work, seed)``: make the seeded inputs and the reference
  answers, with no Spark session;
- ``load(spark, tracer)``: Spark-side inputs (the checkpointed pages);
- ``job(spark, tracer)``: one timed job, returning its output;
- ``check(output)``: whether that output is correct;
- ``traced_passes(spark, tracer)`` (traced run only): extra passes that
  time layers the job does not call one by one.

``rows`` is the workload's input size, the numerator of ``rows_per_s``.
"""

from __future__ import annotations

import random
from pathlib import Path

from perfbench import inputs

# catalog leaf -> span ("<layer>.<public function>") it is timed under
EDGE_LEAVES = {
    "kgtk_filter": "operators.filter",
    "kgtk_ifexists": "operators.ifexists",
    "kgtk_join_inner": "operators.join",
    "kgtk_compact": "operators.compact",
    "kgtk_unique": "operators.unique",
    "kgtk_add_id": "operators.add_id",
    "kgtk_lift": "operators.lift",
    "kgtk_validate_properties": "operators.validate_properties",
    "graph_degrees": "graph.degrees",
    "graph_pagerank": "graph.pagerank",
    "graph_connected_components": "graph.connected_components",
    "graph_reachable": "graph.reachable_nodes",
    "graph_triangles": "graph.triangle_count",
}
DOC_LEAVES = {
    "doc_exact_dedup": "textops.exact_dedup",
    "doc_minhash_clusters": "textops.minhash_near_dup",
    "doc_simhash": "textops.simhash",
    "doc_language_id": "textops.language_id",
    "doc_repetition": "textops.repetition",
    "doc_tfidf_topk": "textops.tfidf_topk",
    "doc_span_dedup": "textops.span_dedup",
    "doc_decontaminate": "textops.decontaminate",
}
STAGES = (
    "extract_text", "detect_mentions", "link_entities",
    "extract_triples", "canonicalize", "materialize",
)

# Input sizes. "full" is what the benchmark measures; "tiny" (500 pages,
# sf0.001) only exercises every code path for the smoke check.
SIZES = {
    "full": {"pages": 50_000, "entities": 2_000, "tpch_sf": 0.02, "docs": 5_000},
    "tiny": {"pages": 500, "entities": 100, "tpch_sf": 0.001, "docs": 50},
}


def edge_digest(rows) -> str:
    from tools.check_oracles import value_hash

    return value_hash(rows, ["node1", "label", "node2", "id"])


class CatalogSweep:
    """One job runs every leaf once, in an order permuted by the seed;
    each leaf's result is collected to the driver as an Arrow table, and
    checked by row count, column names and order-insensitive value hash
    against its DuckDB twin in ``queries.ORACLES``, computed once in
    ``prepare``.

    A sweep is mostly fixed per-leaf cost (planning, job scheduling): on
    a contended 4-vCPU host one took 13-25 s at sf0.005 as at sf0.02.

    ``also`` is a second sweep over other inputs that only the traced run
    makes, once: its leaves' code is compiled in that pass, in a JVM
    warmed by this sweep."""

    def __init__(self, name: str, leaves: dict[str, str], write_inputs, also=None):
        self.name = name
        self.leaves = leaves
        self.write_inputs = write_inputs
        self.also = also

    def prepare(self, work: Path, seed: int) -> None:
        import duckdb

        from kgtk_spark.queries import ORACLES
        from tools.check_oracles import value_hash

        self.work, self.seed = work, seed
        self.dir = work / self.name
        self.dir.mkdir(parents=True)
        self.rows = self.write_inputs(self.dir, seed)
        con = duckdb.connect()
        try:
            for f in self.dir.glob("*.parquet"):
                con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
            self.expect = {}
            for q in self.leaves:
                res = con.sql(ORACLES[q])
                cols = list(res.columns)
                got = res.fetchall()
                self.expect[q] = (len(got), sorted(cols), value_hash(got, cols))
        finally:
            con.close()
        self.order = sorted(self.leaves)
        random.Random(seed).shuffle(self.order)

    def load(self, spark, tracer) -> None:
        pass

    def job(self, spark, tracer) -> dict:
        from kgtk_spark.queries import QUERIES

        out = {}
        for q in self.order:
            with tracer.span(self.leaves[q]):
                out[q] = QUERIES[q](spark, str(self.dir)).toArrow()
        return out

    def check(self, out: dict) -> bool:
        from tools.check_oracles import value_hash

        def summary(table):
            rows = list(zip(*(c.to_pylist() for c in table.columns)))
            return len(rows), sorted(table.column_names), value_hash(rows, table.column_names)

        return all(summary(t) == self.expect[q] for q, t in out.items())

    def traced_passes(self, spark, tracer) -> tuple[dict, list[bool]]:
        if self.also is None:
            return {}, []
        self.also.prepare(self.work, self.seed)
        return {}, [self.also.check(self.also.job(spark, tracer))]


class KgPipeline:
    """One job is ``run_pipeline_fused`` over checkpointed synthetic web pages,
    with its edges collected to the driver; the check is triple
    precision and recall of 1.0 against the facts planted on the pages,
    and the same edge set on every job."""

    def __init__(self, n_pages: int, n_entities: int, cpus: int):
        self.rows = n_pages
        self.n_entities = n_entities
        self.cpus = cpus
        self.digest = None
        self.precision = self.recall = 1.0

    def prepare(self, work: Path, seed: int) -> None:
        self.work, self.seed = work, seed

    def load(self, spark, tracer) -> None:
        from kgtk_spark.pipeline.webgen import alias_dictionary_df, generate_pages_distributed

        with tracer.span("webgen.generate"):
            pages, expected, world = generate_pages_distributed(
                spark, n_pages=self.rows, n_entities=self.n_entities,
                seed=self.seed, partitions=2 * self.cpus,
            )
            # a local checkpoint, not persist(): it survives the SQL-cache
            # clear that follows every job
            self.pages = pages.localCheckpoint(eager=True)
            self.expected = {tuple(r) for r in expected.collect()}
            self.alias = alias_dictionary_df(spark, world)
            self.n_aliases = self.alias.count()

    def job(self, spark, tracer) -> list:
        from kgtk_spark.pipeline.runner import run_pipeline_fused

        with tracer.span("runner.fused"):
            return run_pipeline_fused(
                spark, self.pages, self.alias, n_buckets=self.cpus, alias_count=self.n_aliases
            ).collect()

    def check(self, rows: list) -> bool:
        got = {(r["node1"], r["label"], r["node2"]) for r in rows}
        hit = len(got & self.expected)
        p = hit / len(got) if got else 0.0
        r = hit / len(self.expected) if self.expected else 0.0
        self.precision, self.recall = min(self.precision, p), min(self.recall, r)
        digest = edge_digest(rows)
        if self.digest is None:
            self.digest = digest
        return p == r == 1.0 and digest == self.digest

    def traced_passes(self, spark, tracer) -> tuple[dict, list[bool]]:
        """The six stage functions with a count at each boundary, the
        resumable runner (full run, then a resume), and the streaming
        ingest over the same pages landed as parquet files. The staged
        and resumable edges must equal the fused edges."""
        from kgtk_spark.pipeline import stages as S
        from kgtk_spark.pipeline.runner import run_pipeline
        from kgtk_spark.streaming.ingest import stream_edges_from_pages

        m: dict[str, float] = {}
        cached = []

        def boundary(stage, df):
            with tracer.span(f"stages.{stage}"):
                df = df.persist()
                m[f"stages.{stage}.rows"] = df.count()
            cached.append(df)
            return df

        kw = {"alias_count": self.n_aliases}
        text = boundary("extract_text", S.extract_text(self.pages))
        mentions = boundary("detect_mentions", S.detect_mentions(text, self.alias, **kw))
        boundary("link_entities", S.link_entities(mentions, self.alias, **kw))
        triples = boundary("extract_triples", S.extract_triples(text, self.alias, **kw))
        canon = boundary("canonicalize", S.canonicalize(triples))
        staged = boundary("materialize", S.materialize(canon, n_buckets=self.cpus)).collect()
        for df in cached:
            df.unpersist()
        checks = [edge_digest(staged) == self.digest]

        sink = str(self.work / "resumable")
        args = (spark, self.pages, self.alias, sink)
        kw = {"n_buckets": self.cpus, "input_fingerprint": str(self.seed)}
        with tracer.span("runner.resumable"):
            full = run_pipeline(*args, resume=False, **kw).collect()
        with tracer.span("runner.resumable.resume"):
            resumed = run_pipeline(*args, resume=True, **kw).collect()
        checks += [edge_digest(full) == self.digest, edge_digest(resumed) == self.digest]
        m["runner.resumable.lineage_files"] = spark.read.parquet(sink + "/_manifest_lineage").count()

        landed = str(self.work / "stream_pages")
        self.pages.repartition(32).write.parquet(landed)
        out = str(self.work / "stream_edges")
        with tracer.span("streaming.stream_edges_from_pages"):
            stream_edges_from_pages(
                spark, landed, self.alias, out, str(self.work / "stream_ckpt")
            ).awaitTermination()
        written = spark.read.parquet(out)
        n = written.count()
        m["streaming.stream_edges_from_pages.rows"] = n
        distinct = written.select("node1", "label", "node2").distinct().count()
        m["streaming.distinct_ratio"] = distinct / n if n else 0.0
        return m, checks


def make(name: str, size: str, cpus: int):
    s = SIZES[size]
    if name == "kg_fused":
        return KgPipeline(s["pages"], s["entities"], cpus)
    if name == "kgtk_edges":
        docs = CatalogSweep(
            "docs", DOC_LEAVES, lambda d, seed: inputs.write_documents(d, s["docs"], seed)
        )
        return CatalogSweep(
            "edges", EDGE_LEAVES,
            lambda d, seed: inputs.write_tpch_tables(d, s["tpch_sf"], seed), also=docs,
        )
    raise ValueError(f"unknown workload {name!r}")
