"""KG-construction pipeline over Common-Crawl-style web pages.

Input contract (BASELINE.json input_hint): a table of
``(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)``.

Stages (each a DataFrame → DataFrame function). ``run_pipeline`` is the
one definition that wires them: with ``out_dir`` every stage output is
stored (parquet or catalog table) with a manifest row for
resume-from-checkpoint; without it the run stays in memory, caching
only the outputs that two or more later steps read:

1. extract_text    — html → text when text is null; byte-identical per url
2. detect_mentions — batched Aho-Corasick over text (broadcast alias dict)
3. link_entities   — alias-dictionary candidate scoring (broadcast map-side)
4. extract_triples — pattern-based SVO over sentences
5. canonicalize    — connected-components over sameAs clusters
6. materialize     — KGTK-schema edges (node1, label, node2, id),
                     bucketed by subject hash

``run_pipeline`` runs stages 1, 2 and the SVO matching of 4 as one
Python pass per Arrow batch (``stages.find_mentions_and_triples``): page
text crosses the Python boundary once, and only mention and raw-triple
rows come back. The stage functions above remain the per-stage API.
"""

from kgtk_spark.pipeline.webgen import (
    generate_pages_df,
    generate_world,
    expected_edges_df,
    alias_dictionary_df,
)
from kgtk_spark.pipeline.stages import (
    extract_text,
    detect_mentions,
    link_entities,
    extract_triples,
    canonicalize,
    materialize,
)
from kgtk_spark.pipeline.runner import run_pipeline, triple_precision_recall

__all__ = [
    "generate_pages_df",
    "generate_world",
    "expected_edges_df",
    "alias_dictionary_df",
    "extract_text",
    "detect_mentions",
    "link_entities",
    "extract_triples",
    "canonicalize",
    "materialize",
    "run_pipeline",
    "triple_precision_recall",
]
