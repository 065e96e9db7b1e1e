"""KGTK edge/node data model and alias-aware column resolution.

Reference semantics: kgtk/kgtkformat.py:16-28 (required columns + alias
groups), kgtk/io/kgtkbase.py:153-191 (special-column location),
kgtk/io/kgtkreader.py:537-555 (edge/node auto-mode detection).

An *edge file* is any DataFrame with (an alias of) node1/label/node2;
a *node file* has (an alias of) id. All KGTK cells are strings and the
empty string is null. We canonicalize alias headers to the canonical
names once at the boundary so every downstream operator can assume
``node1, label, node2, id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KGTK_LIST_SEPARATOR = "|"

# Alias groups (canonical name first) — kgtk/kgtkformat.py:17-22.
NODE1_ALIASES = ["node1", "from", "subject", "sub"]
LABEL_ALIASES = ["label", "predicate", "relation", "relationship", "pred"]
NODE2_ALIASES = ["node2", "to", "object", "obj"]
ID_ALIASES = ["id", "ID"]

ALIAS_GROUPS = {
    "node1": NODE1_ALIASES,
    "label": LABEL_ALIASES,
    "node2": NODE2_ALIASES,
    "id": ID_ALIASES,
}

EDGE_COLUMNS = ["node1", "label", "node2"]

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("node1", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("node2", T.StringType()),
        T.StructField("id", T.StringType()),
    ]
)


def resolve_column(df_columns: list[str], canonical: str) -> str | None:
    """Return the actual column name that is an alias of ``canonical``."""
    lowered = {c.lower(): c for c in df_columns}
    for alias in ALIAS_GROUPS.get(canonical, [canonical]):
        if alias.lower() in lowered:
            return lowered[alias.lower()]
    return None


def detect_mode(df_columns: list[str]) -> str:
    """'edge' if a node1 alias present, else 'node' if id present, else 'none'.

    Mirrors kgtk/io/kgtkreader.py:537-555 auto-mode.
    """
    if resolve_column(df_columns, "node1") is not None:
        return "edge"
    if resolve_column(df_columns, "id") is not None:
        return "node"
    return "none"


def canonicalize_columns(df: DataFrame) -> DataFrame:
    """Rename alias headers to canonical node1/label/node2/id (no-op if absent)."""
    out = df
    for canonical in ("node1", "label", "node2", "id"):
        actual = resolve_column(out.columns, canonical)
        if actual is not None and actual != canonical:
            out = out.withColumnRenamed(actual, canonical)
    return out


def null_as_empty(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """SQL NULL → KGTK empty string (for writing / byte-parity surfaces)."""
    targets = cols or [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    exprs = [
        (F.coalesce(F.col(c), F.lit("")).alias(c) if c in targets else F.col(c))
        for c in df.columns
    ]
    return df.select(*exprs)


def read_kgtk_tsv(spark, path: str, mode: str = "auto") -> DataFrame:
    """Compatibility TSV ingest (kgtk/io/kgtkreader.py:494-624).

    Header-driven schema; all columns string; empty string kept (KGTK null).
    Spark/Hadoop codecs decompress .gz/.bz2 transparently, replacing the
    reference's subprocess gunzip (kgtk/utils/gzipprocess.py).
    """
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("quote", "")          # KGTK TSV has no quoting — quotes are data
        .option("escape", "")
        .option("emptyValue", "")
        .option("nullValue", None)
        .csv(path)
    )
    df = df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in df.columns])
    if mode == "auto":
        return canonicalize_columns(df)
    return df


def read_kgtk_tsv_repair(
    spark,
    path: str,
    fill_short_lines: bool = False,
    truncate_long_lines: bool = False,
    record_limit: int | None = None,
    tail_count: int | None = None,
    every_nth_record: int = 1,
    initial_skip_count: int = 0,
    keep_comment_lines: bool = False,
    keep_empty_lines: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Line-repairing TSV ingest with a reject channel
    (kgtk/io/kgtkreader.py:832-960 nextrow).

    Returns (good, rejects); ``rejects`` is (line, reason). Dirty-input
    semantics mirror the reference:

    - empty / whitespace-only / ``#`` comment lines are rejected
      (unless kept via the flags);
    - short rows are padded with "" when ``fill_short_lines`` else
      rejected; long rows are truncated when ``truncate_long_lines``
      else rejected;
    - sampling runs on raw data-line numbers exactly like the
      reference's counters: ``record_limit`` caps lines read,
      ``initial_skip_count`` skips a prefix, ``tail_count`` (with
      record_limit) keeps the tail, ``every_nth_record`` keeps every
      n-th line.

    The parse is one JVM split over ``spark.read.text``; line numbers
    come from the two-phase zip_with_index, so ragged multi-GB inputs
    never funnel through one task.
    """
    from kgtk_spark.indexing import zip_with_index

    lines = spark.read.text(path)
    indexed = zip_with_index(lines, "__ln__")
    header = indexed.filter(F.col("__ln__") == 0).head()
    if header is None:
        empty = spark.createDataFrame([], "value string")
        return empty, empty.select(
            F.col("value").alias("line"), F.col("value").alias("reason")
        )
    columns = header["value"].split("\t")
    ncols = len(columns)

    data = indexed.filter(F.col("__ln__") > 0)

    skip = initial_skip_count
    if record_limit is not None and tail_count is not None:
        skip = max(skip, record_limit - tail_count)
    if record_limit is not None:
        data = data.filter(F.col("__ln__") <= record_limit)
    if skip:
        data = data.filter(F.col("__ln__") > skip)
    if every_nth_record > 1:
        data = data.filter((F.col("__ln__") % every_nth_record) == 0)

    line = F.regexp_replace(F.col("value"), r"[\r\n]+$", "")
    data = data.select(line.alias("line"))

    # classify line-level rejects
    is_empty = F.length("line") == 0
    is_comment = F.col("line").startswith("#")
    is_ws = F.trim(F.col("line")) == ""
    cond_reject = F.lit(False)
    reject_reason = F.lit(None).cast("string")
    if not keep_empty_lines:
        reject_reason = F.when(is_empty, "empty line").otherwise(reject_reason)
        cond_reject = cond_reject | is_empty
    if not keep_comment_lines:
        reject_reason = F.when(
            ~is_empty & is_comment, "comment line"
        ).otherwise(reject_reason)
        cond_reject = cond_reject | (~is_empty & is_comment)
    if not keep_empty_lines:
        reject_reason = F.when(
            ~is_empty & ~is_comment & is_ws, "whitespace line"
        ).otherwise(reject_reason)
        cond_reject = cond_reject | (~is_empty & ~is_comment & is_ws)

    data = data.withColumn("__reject__", reject_reason)
    rows = data.withColumn("__arr__", F.split("line", "\t", -1)).withColumn(
        "__n__", F.size("__arr__")
    )
    if fill_short_lines:
        rows = rows.withColumn(
            "__arr__",
            F.when(
                F.col("__n__") < ncols,
                F.concat(
                    "__arr__",
                    F.array_repeat(F.lit(""), F.lit(ncols) - F.col("__n__")),
                ),
            ).otherwise(F.col("__arr__")),
        )
    if truncate_long_lines:
        rows = rows.withColumn(
            "__arr__",
            F.when(F.col("__n__") > ncols, F.slice("__arr__", 1, ncols)).otherwise(
                F.col("__arr__")
            ),
        )
    rows = rows.withColumn("__n2__", F.size("__arr__"))
    rows = rows.withColumn(
        "__reject__",
        F.when(F.col("__reject__").isNotNull(), F.col("__reject__"))
        .when(F.col("__n2__") < ncols, "short line")
        .when(F.col("__n2__") > ncols, "long line"),
    )

    rejects = rows.filter(F.col("__reject__").isNotNull()).select(
        "line", F.col("__reject__").alias("reason")
    )
    good = rows.filter(F.col("__reject__").isNull()).select(
        *[F.col("__arr__")[i].alias(c) for i, c in enumerate(columns)]
    )
    return good, rejects


def write_kgtk_tsv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Write a KGTK TSV (kgtk/io/kgtkwriter.py write path). Nulls → empty."""
    out = null_as_empty(df)
    if single_file:
        out = out.coalesce(1)
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("quote", "\u0000")
        .option("emptyValue", "")
        .csv(path)
    )
