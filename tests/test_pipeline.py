"""KG-construction pipeline tests: per-stage behavior, the end-to-end
triple P/R ≥ 0.95 gate (BASELINE.md), byte-identical text extraction,
and resume-from-manifest."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgtk_spark.pipeline import (
    alias_dictionary_df,
    canonicalize,
    detect_mentions,
    expected_edges_df,
    extract_text,
    extract_triples,
    generate_pages_df,
    link_entities,
    materialize,
    run_pipeline,
    triple_precision_recall,
)
from kgtk_spark.pipeline import stages
from kgtk_spark.pipeline.aho import (
    AhoCorasick,
    TokenDictMatcher,
    automaton_for,
    find_mentions,
    token_matcher_for,
)
from kgtk_spark.pipeline.runner import run_pipeline_fused
from kgtk_spark.pipeline.stages import extract_text_bytes
from kgtk_spark.pipeline.webgen import PAGES_SCHEMA, generate_page_rows, html_of_text


def test_aho_corasick_basic():
    a = AhoCorasick(["he", "she", "his", "hers"])
    hits = sorted(m[2] for m in a.finditer("ushers"))
    assert hits == ["he", "hers", "she"]


def test_find_mentions_boundaries():
    a = AhoCorasick(["Kalo 1", "Kalo 10", "Mira"])
    text = "Kalo 10 met Mira near Kalo 1 ."
    got = {(m[2]) for m in find_mentions(text, a)}
    # longest match wins at position 0; "Kalo 1" inside "Kalo 10" suppressed
    assert got == {"Kalo 10", "Mira", "Kalo 1"}


def _brute_force_find(aliases, text):
    """Reference for TokenDictMatcher.find: at each token, from left to
    right, the longest alias whose tokens equal the next tokens wins and
    the scan resumes after it."""
    toks = [(m.start(), m.end(), m.group()) for m in re.finditer(r"\S+", text)]
    words = [t[2] for t in toks]
    out, i = [], 0
    while i < len(toks):
        best = max(
            (a.split() for a in aliases if words[i : i + len(a.split())] == a.split()),
            key=len,
            default=None,
        )
        if best is None:
            i += 1
            continue
        j = i + len(best) - 1
        out.append((toks[i][0], toks[j][1], " ".join(best)))
        i = j + 1
    return out


@pytest.mark.parametrize(
    "text, expected",
    [
        # leading and trailing whitespace
        ("  Alpha Beta  ", [(2, 12, "Alpha Beta")]),
        ("\n\tKalo", [(2, 6, "Kalo")]),
        # tabs, newlines and runs of spaces between alias tokens
        ("Alpha\tBeta", [(0, 10, "Alpha Beta")]),
        ("x Alpha \n  Beta y", [(2, 15, "Alpha Beta")]),
        ("Kalo   10\tNorth", [(0, 15, "Kalo 10 North")]),
        # longest first among aliases that share a first token
        ("Kalo 10 North met Kalo 10 and Kalo 1", [
            (0, 13, "Kalo 10 North"), (18, 25, "Kalo 10"), (30, 34, "Kalo"),
        ]),
        # adjacent hits
        ("Alpha Beta Gamma Gamma", [
            (0, 10, "Alpha Beta"), (11, 16, "Gamma"), (17, 22, "Gamma"),
        ]),
        # a token with trailing punctuation is a different token
        ("Kalo. met Kalo .", [(10, 14, "Kalo")]),
        # the longest alias fails on "Beta.", the shorter one matches
        ("Alpha Beta.", [(0, 5, "Alpha")]),
        # empty and blank text
        ("", []),
        (" \t\n ", []),
    ],
)
def test_token_matcher_edge_cases(text, expected):
    aliases = ("Alpha Beta", "Alpha", "Gamma", "Kalo", "Kalo 10", "Kalo 10 North")
    assert TokenDictMatcher(aliases).find(text) == expected
    assert _brute_force_find(aliases, text) == expected


def test_token_matcher_matches_brute_force_on_pages():
    rows, world = generate_page_rows(n_pages=60, n_entities=40, seed=9)
    aliases = tuple({a for names in world.aliases.values() for a in names})
    m = TokenDictMatcher(aliases)
    hits = 0
    for _, _, html, text, _ in rows:
        text = text if text is not None else extract_text_bytes(html)
        got = m.find(text)
        assert got == _brute_force_find(aliases, text)
        hits += len(got)
    assert hits > 0


@pytest.mark.parametrize("matcher_for", [token_matcher_for, automaton_for])
def test_matcher_cache_follows_the_dictionary(matcher_for):
    # A freed dictionary's address is reused by the next one of the same
    # size (CPython's tuple free list); a cache keyed on id() alone would
    # then return the matcher of the freed dictionary.
    find = (lambda m, t: m.find(t)) if matcher_for is token_matcher_for else (
        lambda m, t: find_mentions(t, m)
    )
    first = tuple(["Alpha Beta"])
    assert find(matcher_for(first), "Alpha Beta") == [(0, 10, "Alpha Beta")]
    del first
    second = tuple(["Gamma"])
    assert find(matcher_for(second), "Gamma met Alpha Beta") == [(0, 5, "Gamma")]
    # the same dictionary object keeps its cached matcher
    assert matcher_for(second) is matcher_for(second)


def test_extract_text_byte_identical():
    text = "Alpha one is located in Beta two .\nsources differ on minor points ."
    html = html_of_text(text, "t")
    assert extract_text_bytes(html) == text


def test_generator_deterministic(spark):
    r1, w1 = generate_page_rows(n_pages=20, n_entities=30, seed=7)
    r2, w2 = generate_page_rows(n_pages=20, n_entities=30, seed=7)
    assert r1 == r2
    assert w1.facts == w2.facts and w1.same_as == w2.same_as


def test_extract_text_stage(spark):
    pages, _ = generate_pages_df(spark, n_pages=40, n_entities=30, seed=3)
    out = extract_text(pages)
    assert out.filter(F.col("text").isNull()).count() == 0
    assert "html" not in out.columns
    # byte-identical for pages whose text came from html
    rows, _ = generate_page_rows(n_pages=40, n_entities=30, seed=3)
    originals = {
        u: extract_text_bytes(h) for (u, _, h, t, _) in rows if h is not None
    }
    got = {r["url"]: r["text"] for r in out.collect()}
    for u, t in originals.items():
        assert got[u] == t


def test_mentions_and_linking(spark):
    pages, world = generate_pages_df(spark, n_pages=30, n_entities=25, seed=5)
    text_df = extract_text(pages)
    ad = alias_dictionary_df(spark, world)
    mentions = detect_mentions(text_df, ad)
    assert mentions.count() > 0
    linked = link_entities(mentions, ad)
    # every mention resolves to exactly one entity
    assert linked.count() == mentions.dropDuplicates(["url", "begin", "end"]).count()
    ents = {r["entity"] for r in linked.select("entity").distinct().collect()}
    valid = set(world.aliases.keys())
    assert ents <= valid


def test_fused_pass_matches_stage_functions(spark):
    # html-only, text-only, empty-text and all-null pages in one frame
    rows, world = generate_page_rows(n_pages=40, n_entities=30, seed=19)
    assert any(r[3] is None for r in rows) and any(r[2] is None for r in rows)
    ts = rows[0][1]
    rows += [
        ("u-empty", ts, None, "", "en"),
        ("u-empty-html", ts, html_of_text("", "t"), "", "en"),
        ("u-null", ts, None, None, "en"),
        (None, None, None, None, None),
    ]
    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in PAGES_SCHEMA])
    pages = spark.createDataFrame(rows, schema).repartition(3)
    ad = alias_dictionary_df(spark, world)

    found = stages.find_mentions_and_triples(pages, ad)
    assert found.schema == stages.FOUND_SCHEMA
    text = extract_text(pages)
    got_m = Counter(map(tuple, stages.mentions_of(found).collect()))
    want_m = Counter(map(tuple, detect_mentions(text, ad).collect()))
    got_t = Counter(map(tuple, stages.triples_of(found).collect()))
    want_t = Counter(map(tuple, stages.raw_triples(text).collect()))
    assert got_m == want_m and sum(got_m.values()) > 0
    assert got_t == want_t and sum(got_t.values()) > 0
    # the split frames carry the stage schemas
    assert stages.mentions_of(found).schema == stages.MENTIONS_SCHEMA
    assert stages.triples_of(found).schema == stages.TRIPLE_SCHEMA
    # every row is one of the two kinds
    assert found.count() == sum(got_m.values()) + sum(got_t.values())


def test_canonicalize_rewrites_dups(spark):
    t = spark.createDataFrame(
        [
            ("Q1__dup", "P31", "Q2", "u1"),
            ("Q3", "P31", "Q1__dup", "u1"),
            ("Q1__dup", "sameAs", "Q1", "u1"),
        ],
        ["node1", "label", "node2", "url"],
    ).select("url", "node1", "label", "node2")
    out = canonicalize(t).collect()
    got = {(r["node1"], r["label"], r["node2"]) for r in out}
    assert got == {("Q1", "P31", "Q2"), ("Q3", "P31", "Q1")}


def test_canonicalize_large_map_takes_shuffle_path(spark):
    # broadcast_threshold=0 forces the "sameAs map too big to broadcast"
    # route: the rewrite joins must run WITHOUT a broadcast exchange and
    # produce results identical to the broadcast path.
    rows = [(f"u{i}", f"Q{i}__dup", "P31", f"Q{(i + 1) % 30}") for i in range(30)]
    rows += [(f"u{i}", f"Q{i}__dup", "sameAs", f"Q{i}") for i in range(30)]
    t = spark.createDataFrame(rows, ["url", "node1", "label", "node2"])

    # Disable size-based auto-broadcast so the plan shape reflects the
    # explicit hint alone (at web scale the map's stats exceed the
    # threshold anyway; the guard controls the FORCED broadcast).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = canonicalize(t, broadcast_threshold=0)
        plan = shuf._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan

        bcast = canonicalize(t)  # hint overrides the -1 threshold
        assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()

        key = lambda r: (r["url"], r["node1"], r["label"], r["node2"])  # noqa: E731
        assert sorted(map(key, shuf.collect())) == sorted(map(key, bcast.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_materialize_ids_and_buckets(spark):
    t = spark.createDataFrame(
        [("u", "Q1", "P31", "Q2"), ("u", "Q1", "P31", "Q2"), ("u2", "Q3", "P50", "Q4")],
        ["url", "node1", "label", "node2"],
    )
    out = materialize(t, n_buckets=4)
    rows = out.collect()
    assert len(rows) == 2  # deduped
    ids = {r["id"] for r in rows}
    assert ids == {"Q1-P31-Q2-0000", "Q3-P50-Q4-0000"}


def test_end_to_end_precision_recall(spark, tmp_path):
    pages, world = generate_pages_df(spark, n_pages=150, n_entities=60, seed=11)
    ad = alias_dictionary_df(spark, world)
    edges = run_pipeline(
        spark, pages, ad, str(tmp_path / "kg"), n_buckets=4,
        input_fingerprint="seed11",
    )
    expected = expected_edges_df(spark, world)
    p, r = triple_precision_recall(edges, expected)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"
    # KGTK schema + non-null ids
    assert edges.columns == ["node1", "label", "node2", "id"]
    assert edges.filter(F.col("id").isNull() | (F.col("id") == "")).count() == 0
    # the in-memory run of the same pipeline definition gives the same edges
    fused = run_pipeline_fused(spark, pages, ad, n_buckets=4)
    key = lambda r: (r["node1"], r["label"], r["node2"], r["id"])  # noqa: E731
    assert set(map(key, fused.collect())) == set(map(key, edges.collect()))


def test_pipeline_resume_skips_committed(spark, tmp_path):
    out_dir = str(tmp_path / "kg2")
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=20, seed=13)
    ad = alias_dictionary_df(spark, world)
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")

    manifest1 = spark.read.parquet(f"{out_dir}/_manifest")
    n1 = manifest1.count()
    assert n1 == 6  # six stages committed

    # triples are deduplicated before canonicalize: the canonical stage
    # holds distinct (node1, label, node2) rows, without url
    canonical = spark.read.parquet(f"{out_dir}/canonical")
    assert canonical.columns == ["node1", "label", "node2"]
    assert canonical.count() == canonical.distinct().count() > 0

    # Rerun: everything committed → no new manifest rows.
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="s13")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1

    # Changing the input fingerprint invalidates the whole chain.
    run_pipeline(spark, pages, ad, out_dir, n_buckets=2, input_fingerprint="other")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1 + 6

    # Per-partition lineage: one row per written parquet part, per-stage
    # sums equal the manifest row counts (north_rule lineage+metrics).
    lineage = spark.read.parquet(f"{out_dir}/_manifest_lineage")
    from pyspark.sql import functions as F

    sums = {
        (r["stage"], r["fingerprint"]): r["total"]
        for r in lineage.groupBy("stage", "fingerprint")
        .agg(F.sum("rows").alias("total"))
        .collect()
    }
    for m in spark.read.parquet(f"{out_dir}/_manifest").collect():
        assert sums[(m["stage"], m["fingerprint"])] == m["rows"]


def test_large_dictionary_takes_shuffle_path(spark):
    # broadcast_threshold=0 forces the "dictionary too big to broadcast"
    # route: distributed candidate-join mention detection + salted
    # linking joins. Results must be identical to the broadcast path.
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=25, seed=21)
    text_df = extract_text(pages).localCheckpoint()
    ad = alias_dictionary_df(spark, world)

    m_bcast = detect_mentions(text_df, ad)
    m_dist = detect_mentions(text_df, ad, broadcast_threshold=0)
    # the shuffle path is really taken: the salted join's salt column
    # appears in the analyzed plan, and no python-side automaton scan
    plan = m_dist._jdf.queryExecution().analyzed().toString()
    assert "__salt__" in plan

    key = lambda r: (r["url"], r["begin"], r["end"], r["surface"])  # noqa: E731
    assert sorted(map(key, m_bcast.collect())) == sorted(map(key, m_dist.collect()))

    l_bcast = link_entities(m_bcast, ad)
    l_dist = link_entities(m_bcast, ad, broadcast_threshold=0)
    assert "__salt__" in l_dist._jdf.queryExecution().analyzed().toString()
    lkey = lambda r: (r["url"], r["begin"], r["end"], r["entity"])  # noqa: E731
    assert sorted(map(lkey, l_bcast.collect())) == sorted(map(lkey, l_dist.collect()))

    t_bcast = extract_triples(text_df, ad)
    t_dist = extract_triples(text_df, ad, broadcast_threshold=0)
    tkey = lambda r: (r["url"], r["node1"], r["label"], r["node2"])  # noqa: E731
    assert sorted(map(tkey, t_bcast.collect())) == sorted(map(tkey, t_dist.collect()))


def test_large_dictionary_fallback_in_memory(spark, monkeypatch):
    # An alias count above the broadcast threshold sends the in-memory run
    # down the distributed mention join; its edges and ids must equal the
    # broadcast run's.
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=25, seed=23)
    ad = alias_dictionary_df(spark, world)
    key = lambda r: (r["node1"], r["label"], r["node2"], r["id"])  # noqa: E731
    bcast = set(map(key, run_pipeline_fused(spark, pages, ad, n_buckets=2).collect()))

    calls = []
    distributed = stages.detect_mentions_distributed

    def spy(*args, **kwargs):
        calls.append(args)
        return distributed(*args, **kwargs)

    monkeypatch.setattr(stages, "detect_mentions_distributed", spy)
    big = run_pipeline_fused(
        spark, pages, ad, n_buckets=2, alias_count=stages.ALIAS_BROADCAST_THRESHOLD + 1
    )
    assert set(map(key, big.collect())) == bcast and bcast
    assert len(calls) == 1


def test_pipeline_catalog_table_sink_and_resume(spark, tmp_path):
    # table mode: every stage lands as a catalog table (session catalog
    # in-container; Iceberg writeTo when a catalog is configured) with
    # resume-from-committed-snapshot semantics matching the parquet path
    out_dir = str(tmp_path / "kgt")
    pages, world = generate_pages_df(spark, n_pages=40, n_entities=20, seed=17)
    ad = alias_dictionary_df(spark, world)

    edges = run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2,
        input_fingerprint="s17", table_namespace="default",
    )
    assert edges.count() > 0
    for stage in ["text", "mentions", "linked", "triples", "canonical", "edges"]:
        assert spark.catalog.tableExists(f"default.{stage}"), stage

    n1 = spark.read.parquet(f"{out_dir}/_manifest").count()
    assert n1 == 6

    # rerun resumes from the committed tables: no new manifest rows
    run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2,
        input_fingerprint="s17", table_namespace="default",
    )
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1

    # identical result to the parquet-directory sink
    edges_parquet = run_pipeline(
        spark, pages, ad, str(tmp_path / "kgp"), n_buckets=2,
        input_fingerprint="s17",
    )
    key = lambda r: (r["node1"], r["label"], r["node2"])  # noqa: E731
    assert sorted(map(key, spark.table("default.edges").collect())) == sorted(
        map(key, edges_parquet.collect())
    )

    # dropping a stage table invalidates just that resume check
    spark.sql("DROP TABLE default.edges")
    run_pipeline(
        spark, pages, ad, out_dir, n_buckets=2,
        input_fingerprint="s17", table_namespace="default",
    )
    assert spark.catalog.tableExists("default.edges")
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == n1 + 1

    for stage in ["text", "mentions", "linked", "triples", "canonical", "edges"]:
        spark.sql(f"DROP TABLE IF EXISTS default.{stage}")
