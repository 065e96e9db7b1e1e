"""One definition of the six-stage web-page → KGTK-edge pipeline.

``run_pipeline`` calls each stage function of
``kgtk_spark.pipeline.stages`` once and passes its output through a
boundary. Whether ``out_dir`` is given decides the boundary:

- **sink** (``out_dir`` set): each stage materializes under
  ``out_dir/<stage>/`` (or as the catalog table ``<namespace>.<stage>``)
  and appends a manifest row (stage, fingerprint, row count, partitions,
  duration, status) to ``out_dir/_manifest/``. A rerun skips any stage
  whose manifest row is committed with a matching fingerprint and whose
  output still exists — resume-from-last-committed-snapshot
  (north_rule). On a cluster with an Iceberg catalog the same writes go
  through ``writeTo(...)`` table commits; parquet-directory-plus-manifest
  is the catalog-free equivalent (the parquet job commit protocol makes
  the directory write atomic; the manifest row is written only after).
- **in memory** (no ``out_dir``): nothing is written; the graph fixes
  each boundary by the number of stages that read its output. ``linked``
  (read by none, but a pipeline deliverable) is counted so a run
  includes its cost; every other stage stays lazy.

Text extraction, mention detection and SVO matching run as ONE Python
pass per Arrow batch (``stages.find_mentions_and_triples``); its tagged
output is local-checkpointed for its two readers, linking and triple
resolution, and so is the alias dictionary for its three (the alias
broadcast and two best-sense maps). In memory the pass reads the pages,
so ``text`` is never materialized; a sink stores the ``text`` stage and
runs the pass over it, so stage names, manifest and lineage are those of
the six stages. Above ``stages.ALIAS_BROADCAST_THRESHOLD`` aliases the
dictionary is not broadcast: ``text`` is then persisted (or stored) for
the distributed mention join and the separate triple pass, and released
after its last reader.

In both modes the raw triples are deduplicated on (node1, label, node2)
before ``canonicalize``, and that distinct set is local-checkpointed.

Fingerprints chain: stage_fp = sha256(stage, upstream_fp, config), so
changing an upstream stage or a config invalidates everything below it.
"""

from __future__ import annotations

import functools
import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtk_spark.pipeline import stages as S
from kgtk_spark.sources.iceberg import iceberg_available, read_table, table_exists, write_table

MANIFEST_SCHEMA = (
    "stage string, fingerprint string, rows long, partitions int, "
    "duration_sec double, status string, committed_at double"
)
LINEAGE_SCHEMA = "stage string, fingerprint string, file string, rows long"


def _fp(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()[:16]


class StageManifest:
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.path = os.path.join(out_dir, "_manifest")

    def committed(self) -> dict[str, str]:
        """stage → fingerprint of committed stages."""
        try:
            rows = self.spark.read.parquet(self.path).filter(
                F.col("status") == "committed"
            ).collect()
        except Exception:
            return {}
        return {r["stage"]: r["fingerprint"] for r in rows}

    def record(self, stage: str, fingerprint: str, rows: int, partitions: int, duration: float):
        df = self.spark.createDataFrame(
            [(stage, fingerprint, rows, partitions, float(duration), "committed", time.time())],
            MANIFEST_SCHEMA,
        )
        df.write.mode("append").parquet(self.path)

    def record_lineage(self, stage: str, fingerprint: str, per_file: list):
        """One row per output file (stage partition): the north_rule's
        per-partition lineage. ``per_file`` = [(file, rows), ...]."""
        df = self.spark.createDataFrame(
            [(stage, fingerprint, f, int(n)) for f, n in per_file],
            LINEAGE_SCHEMA,
        )
        df.write.mode("append").parquet(self.path + "_lineage")

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.path + "_lineage")


class _Sink:
    """Sink boundaries: run-or-resume one stage, record manifest and lineage.
    Stage outputs are parquet directories, or catalog tables when
    ``table_namespace`` is set (resume then checks ``tableExists``)."""

    def __init__(self, spark, out_dir, resume, input_fingerprint, table_namespace, catalog):
        self.spark, self.out_dir = spark, out_dir
        self.manifest = StageManifest(spark, out_dir)
        self.committed = self.manifest.committed() if resume else {}
        self.fp = input_fingerprint
        self.namespace, self.catalog = table_namespace, catalog
        self.session = bool(table_namespace) and not iceberg_available(spark, catalog)

    def _write(self, df: DataFrame, name: str) -> None:
        path = os.path.join(self.out_dir, name)
        if self.namespace:
            write_table(
                df, f"{self.namespace}.{name}", path, self.catalog, session_catalog=self.session
            )
        else:
            df.write.mode("overwrite").parquet(path)

    def _read(self, name: str) -> DataFrame | None:
        """The stored output of ``name``, or None when it is gone."""
        path = os.path.join(self.out_dir, name)
        if self.namespace:
            ident = f"{self.namespace}.{name}"
            if not table_exists(self.spark, ident, self.catalog):
                return None
            return read_table(self.spark, ident, path, self.catalog, session_catalog=self.session)
        return self.spark.read.parquet(path) if os.path.exists(path) else None

    def __call__(self, name, step, compute, consumers=1, config=()) -> DataFrame:
        self.fp = fp = _fp(step, self.fp, *config)
        if self.committed.get(name) == fp and (out := self._read(name)) is not None:
            return out
        t0 = time.time()
        self._write(compute(), name)
        out = self._read(name)
        # Per-partition lineage: one (file, rows) pair per written parquet
        # part — the collect is bounded by the partition count, and the
        # same aggregation also yields the total row count (no extra scan).
        per_file = [
            (r["file"], r["rows"])
            for r in out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        n = sum(rows for _, rows in per_file)
        self.manifest.record(name, fp, n, len(per_file), time.time() - t0)
        self.manifest.record_lineage(name, fp, per_file)
        return out


def _in_memory(name, step, compute, consumers=1, config=()) -> DataFrame:
    """In-memory boundaries, fixed by how many later stages read the output."""
    df = compute()
    if consumers == 0:
        df.count()
    elif consumers > 1:
        # persist() keeps compressed COLUMNAR blocks (GC-friendly at high
        # thread counts — localCheckpoint's deserialized row storage
        # causes GCLocker thrash with 32 executor threads + Arrow JNI).
        # The caller releases it after its last reader.
        df = df.persist()
    return df


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str | None = None,
    n_buckets: int = 32,
    resume: bool = True,
    input_fingerprint: str = "",
    table_namespace: str | None = None,
    catalog: str = "iceberg",
    alias_count: int | None = None,
) -> DataFrame:
    """pages + alias dictionary → canonical KGTK edges (node1, label, node2, id).

    With ``out_dir`` every stage is stored and resumable (sink mode);
    without it the run stays in memory. Both modes give the same edges.

    ``input_fingerprint`` should identify the input snapshot (e.g. its
    generator seed/row count or an Iceberg snapshot id); stages chain
    from it, so a new input recomputes everything.

    ``table_namespace`` switches every stage sink from parquet
    directories to catalog tables (``<namespace>.<stage>``) — Iceberg
    snapshot commits when ``catalog`` is configured, session-catalog
    tables otherwise. Resume semantics are identical on both sinks.

    ``alias_count`` is the alias-dictionary row count when the caller
    already knows it; otherwise the dictionary is counted once here.
    ``resume``, ``input_fingerprint``, ``table_namespace`` and ``catalog``
    only apply with ``out_dir``.
    """
    if alias_count is None:
        # size the dictionary ONCE; each stage then picks broadcast vs the
        # salted shuffle path without re-counting
        alias_count = alias_dict.count()
    kw = {"alias_count": alias_count}
    stage = _in_memory if out_dir is None else _Sink(
        spark, out_dir, resume, input_fingerprint, table_namespace, catalog
    )

    text = None
    try:
        if alias_count > S.ALIAS_BROADCAST_THRESHOLD:
            # too big to broadcast: the distributed mention join and the
            # triple pass each read the text
            text = stage("text", "extract_text", lambda: S.extract_text(pages), consumers=2)
            detect = lambda: S.detect_mentions(text, alias_dict, **kw)  # noqa: E731
            extract = lambda: S.extract_triples(text, alias_dict, **kw)  # noqa: E731
        else:
            # three readers: the alias broadcast and the best-sense maps of
            # linking and triple resolution; the first to run keeps it
            alias_dict = alias_dict.localCheckpoint(eager=False)
            # One Python pass finds mentions and raw triples together. In
            # memory it reads the pages, so text is never materialized; a
            # sink stores the text stage first and the pass reads that.
            if out_dir is not None:
                text = stage("text", "extract_text", lambda: S.extract_text(pages))

            @functools.cache
            def found() -> DataFrame:
                # Built on first use, so a sink that resumes both readers
                # never collects the aliases. Kept for its two readers by a
                # local checkpoint: its blocks are freed with the frame, and
                # it builds faster than the compressed columnar cache of
                # persist() (~1M short rows here).
                return S.find_mentions_and_triples(
                    pages if text is None else text, alias_dict
                ).localCheckpoint(eager=False)

            detect = lambda: S.mentions_of(found())  # noqa: E731
            extract = lambda: S.resolve_triples(S.triples_of(found()), alias_dict, **kw)  # noqa: E731
        mentions = stage("mentions", "detect_mentions", detect)
        # mention detection + linking are pipeline deliverables (provenance
        # spans) that no later stage reads
        stage(
            "linked", "link_entities", lambda: S.link_entities(mentions, alias_dict, **kw),
            consumers=0,
        )
        triples = stage("triples", "extract_triples", extract)
        # Dedup BEFORE the rewrite: canonicalize's per-row rewrite commutes
        # with dropDuplicates on (node1, label, node2), and materialize
        # dedups again after the rewrite anyway — so the two rewrite joins
        # touch the distinct edge set (~2% of rows here) instead of every
        # raw triple. localCheckpoint: connected components, the sameAs
        # split and the rewrite all read it. Every node extract_triples
        # emits comes from best_alias_map, so the alias-dictionary size
        # bounds the rewrite map and canonicalize skips its size probe.
        canon = stage(
            "canonical", "canonicalize",
            lambda: S.canonicalize(
                triples.select("node1", "label", "node2").dropDuplicates().localCheckpoint(),
                size_hint=alias_count,
            ),
        )
    finally:
        if text is not None:
            text.unpersist()  # after its last reader; a no-op for a stored stage
    return stage(
        "edges", "materialize", lambda: S.materialize(canon, n_buckets=n_buckets),
        config=(str(n_buckets),),
    )


def run_pipeline_fused(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    n_buckets: int = 32,
    alias_count: int | None = None,
) -> DataFrame:
    """``run_pipeline`` in memory (no ``out_dir``)."""
    return run_pipeline(spark, pages, alias_dict, None, n_buckets, alias_count=alias_count)


def triple_precision_recall(
    got: DataFrame, expected: DataFrame
) -> tuple[float, float]:
    """P/R on distinct (node1, label, node2) triples."""
    g = got.select("node1", "label", "node2").dropDuplicates()
    e = expected.select("node1", "label", "node2").dropDuplicates()
    n_got = g.count()
    n_exp = e.count()
    n_hit = g.join(e, ["node1", "label", "node2"], "left_semi").count()
    precision = n_hit / n_got if n_got else 0.0
    recall = n_hit / n_exp if n_exp else 0.0
    return precision, recall
