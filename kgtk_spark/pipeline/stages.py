"""The six pipeline stages, each a pure DataFrame → DataFrame function.

Scale notes (the whole point):
- text extraction / mention detection / SVO matching are mapInPandas
  (Arrow-batched, no shuffle, linear in input bytes), each on its own
  and fused into one pass (find_mentions_and_triples) that the runner
  uses, so page text crosses the Python boundary once;
- the alias dictionary is broadcast — mention→entity resolution is a
  map-side join, immune to hub-entity skew. Dictionaries above
  ALIAS_BROADCAST_THRESHOLD rows switch AUTOMATICALLY to the
  distributed path: a salted candidate equi-join for mention
  detection and salted shuffle joins for linking/extraction
  (kgtk_spark/textops/skew.py), so a 100M-alias dictionary never
  touches the driver;
- triple assembly shuffles once on (url) — pages are independent, so
  the shuffle key is uniform by construction;
- canonicalization resolves the (tiny) sameAs subgraph with the
  adaptive connected components from kgtk_spark.graph (driver
  union-find when small, large/small-star fixpoint at scale), applied
  back to the full edge stream via a broadcast rewrite map;
- materialize buckets by subject hash (explicit repartition) so the
  downstream graph operators and compact co-locate by subject.
"""

from __future__ import annotations

import html as html_mod
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgtk_spark.pipeline.aho import automaton_for, find_mentions, token_matcher_for
from kgtk_spark.pipeline.webgen import PREDICATES, SAME_AS_LABEL, SAME_AS_PHRASE

# ---------------------------------------------------------------------------
# Stage 1 — text extraction (byte-identical per url)
# ---------------------------------------------------------------------------

_HEAD_RE = re.compile(rb"<head>.*?</head>", re.S)
_P_BREAK_RE = re.compile(r"</p>\s*<p>")
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text_bytes(html: bytes) -> str:
    """Deterministic html → text. Pinned, versioned transformation: any
    change to this function changes extracted bytes, so it is the ONLY
    place allowed to interpret html (per-row invariant: byte-identical
    text per url)."""
    body = _HEAD_RE.sub(b"", html).decode("utf-8", errors="replace")
    body = _P_BREAK_RE.sub("\n", body)
    body = _TAG_RE.sub("", body)
    return html_mod.unescape(body).strip()


def _fill_text(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch: fill null ``text`` from ``html``, then drop
    ``html`` (a batch without ``html`` passes through)."""
    if "html" not in pdf:
        return pdf
    need = pdf["text"].isna() & pdf["html"].notna()
    if need.any():
        pdf.loc[need, "text"] = pdf.loc[need, "html"].map(
            lambda b: extract_text_bytes(bytes(b))
        )
    return pdf.drop(columns=["html"])


def extract_text(pages: DataFrame) -> DataFrame:
    """Fill null ``text`` from ``html``; pages with text pass through."""
    out_schema = T.StructType(
        [f for f in pages.schema.fields if f.name != "html"]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fill_text(pdf)

    return pages.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Stage 2 — mention detection (Aho-Corasick over broadcast dictionary)
# ---------------------------------------------------------------------------

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("begin", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
    ]
)

# Above this many dictionary rows, the driver-collect + broadcast
# automaton is replaced by the distributed candidate-join path
# (detect_mentions_distributed / salted linking joins). The broadcast
# automaton holds the whole dictionary in every executor's Python
# worker; ~2M aliases ≈ low hundreds of MB, a sane per-worker ceiling.
ALIAS_BROADCAST_THRESHOLD = 2_000_000


def _alias_count(alias_dict: DataFrame, alias_count: int | None) -> int:
    return alias_dict.count() if alias_count is None else alias_count


def detect_mentions(
    pages: DataFrame,
    alias_dict: DataFrame,
    matcher: str = "token",
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """(url, begin, end, surface) for every dictionary hit in ``text``.

    Dictionaries up to ``broadcast_threshold`` rows are collected once
    on the driver and broadcast; each executor builds the automaton
    once (cached) and streams Arrow batches through it — north_star's
    "batched Aho-Corasick ... built once per executor from a broadcast
    alias dictionary". ABOVE the threshold the dictionary never touches
    the driver: detect_mentions_distributed runs a salted candidate
    equi-join instead (pass ``alias_count`` to skip the size probe when
    the caller already knows it).

    ``matcher``: "token" (default) uses the word-level dictionary
    automaton — one hash probe per token, memory-bandwidth-friendly,
    scales linearly with cores; "char" uses the classic character
    Aho-Corasick (handles aliases not aligned to whitespace tokens).
    """
    if _alias_count(alias_dict, alias_count) > broadcast_threshold:
        return detect_mentions_distributed(pages, alias_dict)
    bc = _broadcast_aliases(alias_dict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if matcher == "token":
            find = token_matcher_for(bc.value).find
        else:
            automaton = automaton_for(bc.value)
            find = lambda t: find_mentions(t, automaton)  # noqa: E731
        for pdf in batches:
            yield _mention_frame(pdf["url"], pdf["text"], find)

    return pages.select("url", "text").mapInPandas(run, schema=MENTIONS_SCHEMA)


def _broadcast_aliases(alias_dict: DataFrame):
    """The distinct aliases, collected once on the driver and broadcast."""
    aliases = tuple(
        r["alias"] for r in alias_dict.select("alias").distinct().collect()
    )
    return alias_dict.sparkSession.sparkContext.broadcast(aliases)


def _mention_frame(urls: pd.Series, texts: pd.Series, find) -> pd.DataFrame:
    """One Arrow batch's mentions. Per-page match lists, then ONE
    vectorized assembly: the url column is np.repeat over per-page
    counts and the spans land in int32 numpy arrays — no per-mention
    Python append into object columns (guide §4.2)."""
    per = [find(t) if t else () for t in texts]
    flat = [hit for page in per for hit in page]
    begin, end, surface = zip(*flat) if flat else ((), (), ())
    return pd.DataFrame(
        {
            "url": np.repeat(urls.to_numpy(), [len(x) for x in per]),
            "begin": np.array(begin, dtype=np.int32),
            "end": np.array(end, dtype=np.int32),
            "surface": list(surface),
        }
    )


_TOK_RE = re.compile(r"\S+")


def detect_mentions_distributed(
    pages: DataFrame, alias_dict: DataFrame, salt_buckets: int = 16
) -> DataFrame:
    """Mention detection for dictionaries too big to broadcast.

    Semantics-identical twin of the token matcher
    (aho.TokenDictMatcher): token-boundary matches, longest match
    first, non-overlapping. The dictionary stays a DataFrame:

    1. the distinct alias token-LENGTHS are collected (a handful of
       small integers, never the aliases themselves);
    2. each page emits its candidate n-grams for exactly those lengths
       (mapInPandas, linear in tokens × n_lengths, no dictionary);
    3. candidates equi-join the normalized alias grams — salted, since
       hub aliases are Zipfian (textops.skew.salted_join);
    4. a per-url greedy pass keeps the longest non-overlapping hits
       (applyInPandas — per-document work after one shuffle on url).
    """
    from kgtk_spark.textops.skew import salted_join

    norm = F.array_join(F.split(F.trim(F.col("alias")), r"\s+"), " ")
    grams_dict = (
        alias_dict.select(norm.alias("gram"))
        .where(F.col("gram") != "")
        .distinct()
        .select("gram", F.size(F.split(F.col("gram"), " ")).alias("L"))
    )
    lengths = sorted(
        r["L"] for r in grams_dict.select("L").distinct().collect()
    )
    if not lengths:
        return pages.sparkSession.createDataFrame([], MENTIONS_SCHEMA)

    cand_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("begin", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("gram", T.StringType()),
        ]
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "begin": [], "end": [], "gram": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                toks = [(m.start(), m.end(), m.group()) for m in _TOK_RE.finditer(text)]
                n = len(toks)
                for i in range(n):
                    for L in lengths:
                        if i + L > n:
                            break
                        rows["url"].append(url)
                        rows["begin"].append(toks[i][0])
                        rows["end"].append(toks[i + L - 1][1])
                        rows["gram"].append(" ".join(t[2] for t in toks[i : i + L]))
            yield pd.DataFrame(rows)

    cands = pages.select("url", "text").mapInPandas(emit, schema=cand_schema)
    hits = salted_join(cands, grams_dict, "gram", salt_buckets=salt_buckets).select(
        "url", "begin", "end", F.col("gram").alias("surface")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["begin", "end"], ascending=[True, False])
        keep, next_free = [], -1
        for row in pdf.itertuples(index=False):
            if row.begin >= next_free:
                keep.append(row)
                next_free = row.end
        return pd.DataFrame(keep, columns=pdf.columns) if keep else pdf.iloc[0:0]

    return hits.groupBy("url").applyInPandas(greedy, schema=MENTIONS_SCHEMA)


# ---------------------------------------------------------------------------
# Stage 3 — entity linking (broadcast map-side scoring)
# ---------------------------------------------------------------------------

def best_alias_map(alias_dict: DataFrame) -> DataFrame:
    """(surface, entity, score): the argmax-prior sense per alias,
    deterministic tie-break on entity id. Tiny — always broadcast."""
    return (
        alias_dict.groupBy(F.col("alias").alias("surface"))
        .agg(
            F.expr("min_by(entity, struct(-prior, entity))").alias("entity"),
            F.max("prior").alias("score"),
        )
    )


def link_entities(
    mentions: DataFrame,
    alias_dict: DataFrame,
    context_scoring: bool = False,
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """Resolve each mention to its best-prior entity.

    Default path is ZERO-shuffle: the argmax over candidate senses is
    precomputed per alias (best_alias_map) and the mentions stream takes
    one broadcast hash join — map-side scoring, immune to hub-alias
    skew, scales linearly with cores. Dictionaries above
    ``broadcast_threshold`` rows switch to a salted shuffle join
    (textops.skew.salted_join) — hub aliases spread over the salt
    shards instead of making one straggler reducer.

    ``context_scoring=True`` keeps the candidate-expansion + per-mention
    aggregation path (one shuffle on the mention key) for scorers that
    need page context; with prior-only scoring both paths are identical.
    """
    if not context_scoring:
        best = best_alias_map(alias_dict)
        if _alias_count(alias_dict, alias_count) > broadcast_threshold:
            from kgtk_spark.textops.skew import salted_join

            return salted_join(mentions, best, "surface").select(
                "url", "begin", "end", "surface", "entity", "score"
            )
        return mentions.join(F.broadcast(best), "surface").select(
            "url", "begin", "end", "surface", "entity", "score"
        )
    cand = mentions.join(F.broadcast(alias_dict), mentions["surface"] == alias_dict["alias"])
    return (
        cand.groupBy("url", "begin", "end", "surface")
        .agg(
            F.expr("max_by(entity, prior)").alias("entity"),
            F.max("prior").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Stage 4 — triple extraction (pattern-based SVO over sentences)
# ---------------------------------------------------------------------------

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("subj_surface", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj_surface", T.StringType()),
    ]
)

_PHRASE_TO_PRED = {phrase: p for phrase, p in PREDICATES}
_PHRASE_TO_PRED[SAME_AS_PHRASE] = SAME_AS_LABEL
_PHRASE_RE = re.compile(
    r"^(?P<subj>.+?)\s+(?P<phrase>"
    + "|".join(re.escape(p) for p in sorted(_PHRASE_TO_PRED, key=len, reverse=True))
    + r")\s+(?P<obj>.+?)\s*\.?\s*$"
)


def _triple_frame(urls: pd.Series, texts: pd.Series) -> pd.DataFrame:
    """One Arrow batch's SVO matches, one row per matched sentence."""
    match = _PHRASE_RE.match
    hits = [
        (url, *m.group("subj", "phrase", "obj"))
        for url, text in zip(urls, texts)
        if text
        for m in map(match, map(str.strip, text.split("\n")))
        if m
    ]
    url, subj, phrase, obj = zip(*hits) if hits else ((), (), (), ())
    return pd.DataFrame(
        {
            "url": list(url),
            "subj_surface": list(subj),
            "pred": [_PHRASE_TO_PRED[p] for p in phrase],
            "obj_surface": list(obj),
        }
    )


def raw_triples(pages: DataFrame) -> DataFrame:
    """(url, subj_surface, pred, obj_surface) per matched sentence."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _triple_frame(pdf["url"], pdf["text"])

    return pages.select("url", "text").mapInPandas(run, schema=TRIPLE_SCHEMA)


def resolve_triples(
    raw: DataFrame,
    alias_dict: DataFrame,
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """Raw SVO triples (TRIPLE_SCHEMA) → (url, node1, label, node2).

    Subject and object surfaces each take one broadcast hash join
    against the best-sense alias map (same map linking used): the whole
    extraction path from raw text to entity triples has NO shuffle.
    Above ``broadcast_threshold`` dictionary rows both joins run as
    salted shuffle joins instead (the broadcast would not fit).
    """
    big = _alias_count(alias_dict, alias_count) > broadcast_threshold
    best = best_alias_map(alias_dict)
    s = best.select(F.col("surface").alias("subj_surface"), F.col("entity").alias("subj"))
    o = best.select(F.col("surface").alias("obj_surface"), F.col("entity").alias("obj"))
    if big:
        from kgtk_spark.textops.skew import salted_join

        joined = salted_join(salted_join(raw, s, "subj_surface"), o, "obj_surface")
    else:
        joined = raw.join(F.broadcast(s), "subj_surface").join(
            F.broadcast(o), "obj_surface"
        )
    return joined.select(
        "url",
        F.col("subj").alias("node1"),
        F.col("pred").alias("label"),
        F.col("obj").alias("node2"),
    )


def extract_triples(
    pages: DataFrame,
    alias_dict: DataFrame,
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """Match SVO sentences in ``text`` and resolve their surface forms
    to entities (``raw_triples`` then ``resolve_triples``)."""
    return resolve_triples(
        raw_triples(pages), alias_dict, broadcast_threshold, alias_count
    )


# ---------------------------------------------------------------------------
# Stages 1, 2 and 4 in one Python pass
# ---------------------------------------------------------------------------

# ``kind`` tags of the fused pass's rows
MENTION, TRIPLE = 0, 1

FOUND_SCHEMA = T.StructType(
    [T.StructField("kind", T.ByteType())]
    + MENTIONS_SCHEMA.fields
    + [f for f in TRIPLE_SCHEMA.fields if f.name != "url"]
)


def find_mentions_and_triples(pages: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Stages 1, 2 and 4 in one ``mapInPandas`` pass: per Arrow batch,
    fill ``text`` from ``html`` (as ``extract_text``), find dictionary
    mentions with the broadcast token matcher (as ``detect_mentions``) and
    match SVO sentences (as ``raw_triples``). Page text crosses the
    Python boundary once and never comes back.

    Returns FOUND_SCHEMA rows tagged by ``kind``: MENTION rows fill the
    MENTIONS_SCHEMA columns, TRIPLE rows the TRIPLE_SCHEMA columns, the
    other columns are null. ``mentions_of`` and ``triples_of`` split
    them. Broadcast dictionaries only: above ALIAS_BROADCAST_THRESHOLD
    mentions need ``detect_mentions_distributed`` over stored text.
    """
    bc = _broadcast_aliases(alias_dict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        find = token_matcher_for(bc.value).find
        for pdf in batches:
            pdf = _fill_text(pdf)
            mentions = _mention_frame(pdf["url"], pdf["text"], find)
            yield mentions.assign(
                kind=np.int8(MENTION), subj_surface=None, pred=None, obj_surface=None
            )
            triples = _triple_frame(pdf["url"], pdf["text"])
            yield triples.assign(
                kind=np.int8(TRIPLE), begin=None, end=None, surface=None
            )

    cols = [c for c in ("url", "html", "text") if c in pages.columns]
    return pages.select(*cols).mapInPandas(run, schema=FOUND_SCHEMA)


def mentions_of(found: DataFrame) -> DataFrame:
    """The MENTION rows of ``find_mentions_and_triples``, as MENTIONS_SCHEMA."""
    return found.where(F.col("kind") == MENTION).select(*MENTIONS_SCHEMA.names)


def triples_of(found: DataFrame) -> DataFrame:
    """The TRIPLE rows of ``find_mentions_and_triples``, as TRIPLE_SCHEMA."""
    return found.where(F.col("kind") == TRIPLE).select(*TRIPLE_SCHEMA.names)


# ---------------------------------------------------------------------------
# Stage 5 — canonicalization (sameAs connected components)
# ---------------------------------------------------------------------------

# Above this many rewrite rows the sameAs map stops being broadcast and
# the rewrite runs as plain shuffle left-joins (AQE handles stragglers
# and skewed canonical ids). Mirrors ALIAS_BROADCAST_THRESHOLD: two
# short strings per row, so 2M rows ≈ low hundreds of MB per executor —
# the same per-worker ceiling.
REWRITE_BROADCAST_THRESHOLD = 2_000_000


def canonicalize(
    triples: DataFrame,
    same_as_label: str = SAME_AS_LABEL,
    broadcast_threshold: int = REWRITE_BROADCAST_THRESHOLD,
    size_hint: int | None = None,
) -> DataFrame:
    """Collapse sameAs clusters: rewrite node1/node2 to the cluster's
    lexicographically-smallest member; drop the sameAs edges.

    Mirrors the reference's sameAs canonicalization
    (kgtk/cskg_utils.py:88-147) with the in-memory union-find replaced
    by the large/small-star fixpoint. The rewrite map (one row per
    non-canonical entity) is broadcast only while it stays under
    ``broadcast_threshold`` rows; above that the two rewrites run as
    shuffle joins — a web-scale sameAs graph can have hundreds of
    millions of non-canonical ids, which must never transit the driver
    or every executor."""
    same = triples.filter(F.col("label") == same_as_label)
    rest = triples.filter(F.col("label") != same_as_label)

    pairs = same.select(F.col("node1").alias("u"), F.col("node2").alias("v"))
    # (node, component=min member); small sameAs graphs resolve on the
    # driver, big ones run the large/small-star fixpoint.
    from kgtk_spark.graph.connected_components import components_auto

    assign = components_auto(pairs)
    rewrite = assign.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__from__"), F.col("component").alias("__to__")
    )
    # ``size_hint``: an upper bound on rewrite rows the CALLER already
    # knows (the pipeline runner bounds it by the alias-dictionary
    # size) — skips the checkpoint + count probe, keeping the hot path
    # barrier-free. Without a hint, size once; checkpoint so the CC
    # fixpoint doesn't replay per consumer (node1 pass + node2 pass).
    # Not persist(): the returned plan is lazy, so nothing here could
    # unpersist after both consumers, while checkpoint blocks are freed
    # with the frame.
    if size_hint is None:
        rewrite = rewrite.localCheckpoint(eager=False)
        n_rewrite = rewrite.count()
    else:
        n_rewrite = size_hint
    if n_rewrite <= broadcast_threshold:
        rewrite = F.broadcast(rewrite)
    out = (
        rest.join(rewrite, rest["node1"] == rewrite["__from__"], "left")
        .withColumn("node1", F.coalesce("__to__", "node1"))
        .drop("__from__", "__to__")
    )
    out = (
        out.join(rewrite, out["node2"] == rewrite["__from__"], "left")
        .withColumn("node2", F.coalesce("__to__", "node2"))
        .drop("__from__", "__to__")
    )
    return out


# ---------------------------------------------------------------------------
# Stage 6 — materialize KGTK edges
# ---------------------------------------------------------------------------

def materialize(
    triples: DataFrame,
    n_buckets: int = 32,
    id_style: str = "node1-label-node2-num",
) -> DataFrame:
    """Distinct edges with KGTK ids, bucketed by subject hash.

    The id style is content-derived per group
    (kgtk/reshape/kgtkidbuilder.py:392-400) — no global sort. The
    explicit repartition on hash(node1) gives the downstream operators
    (compact, graph-statistics, ifexists on node1) co-located input.
    """
    from kgtk_spark.operators.add_id import add_id

    edges = triples.select("node1", "label", "node2").dropDuplicates()
    edges = edges.repartition(n_buckets, F.xxhash64("node1"))
    return add_id(edges, style=id_style).select("node1", "label", "node2", "id")
