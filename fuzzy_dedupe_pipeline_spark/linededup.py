"""Corpus-level boilerplate line removal (line-granularity dedup).

Web pages share lines — nav bars, cookie banners, footers — that survive
HTML extraction and poison near-dup detection (they inflate Jaccard between
unrelated pages) and LLM training data (the model memorizes them). The
standard fix (CCNet / RefinedWeb style) is: a line that occurs in at least
`min_docs` *distinct* documents is boilerplate; delete it from every document
it appears in, preserving the order of the surviving lines.

Dataflow (designed for 10^12 docs):

  1. frequent_lines: per-doc DISTINCT lines exploded -> groupBy(line) count.
     One shuffle; partial aggregation collapses the heavy hitters map-side,
     which is exactly where boilerplate mass is. The survivor set is bounded
     by total_lines / min_docs (a heavy-hitter bound), so with a corpus-
     proportional threshold it stays tiny no matter the corpus size.
  2. remove_boilerplate: docs posexplode into (pos, line) rows, a LEFT ANTI
     join against the frequent-lines table drops boilerplate, and the doc is
     reassembled with a position-ordered collect_list. A per-doc NULL
     sentinel row rides through the anti join (NULL keys never match) so
     docs whose every line was boilerplate still come back, with
     text_clean = '' (array_join skips NULL elements).

  The join is picked from the survivor set itself, measured before the
  join is planned: one bounded collect of at most BOILER_MAX_LINES lines
  of at most BOILER_MAX_LINE_BYTES each. A set that comes back whole and
  within spark.sql.autoBroadcastJoinThreshold is broadcast as a local
  relation: a broadcast hash anti join (O(1) probe, the set in the join's
  hash map) however big the corpus is. A set over either bound is left to
  the planner with no hint, so an unbounded set degrades to a sort-merge
  anti join instead of being forced into a broadcast. The planner alone
  would size the set from the corpus (the scan's estimate, then at run
  time the shuffled line counts below the frequency filter), and past
  ~200k docs would shuffle and sort every corpus line for a 3-line set.
  The measurement costs one job ahead of the join; the main query then
  reads the collected set instead of recomputing it.

The reference has no line concept (spreadsheet rows); this operator exists
for the north-rule webtext payload. Parity: `remove_boilerplate` has an
exact DuckDB twin in __spark_entry__.oracle_sql (unnest + HAVING + lambda
list_filter), checked value-level by the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# bounds of the frequent-line set collected to pick the anti join (see the
# module docstring): at most (BOILER_MAX_LINES + 1) * BOILER_MAX_LINE_BYTES
# bytes (~16 MB) reach the driver
BOILER_MAX_LINES = 4096
BOILER_MAX_LINE_BYTES = 4096


def lines_col(c: Column, sep: str = "\n") -> Column:
    """Split into lines, trimmed, empties dropped — the unit of dedup.
    NULL text -> empty array (not NULL: downstream size()/filter() must see
    0 lines, never SQL-NULL's -1/NULL propagation).

    sep is a LITERAL separator (quoted with \\Q..\\E before it reaches
    F.split's regex argument): callers rejoin with the same sep via
    concat_ws, which is literal — treating it as a regex here would make a
    metacharacter sep (e.g. '|' or '.') explode docs per-character and
    silently rebuild garbage."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(c, F.lit("")), "\\Q" + sep + "\\E"),
            lambda l: F.trim(l),
        ),
        lambda l: l != "",
    )


def frequent_lines(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 100,
) -> DataFrame:
    """Lines occurring in >= min_docs distinct documents -> (line, n_docs).

    array_distinct BEFORE the explode makes count(*) a distinct-doc count
    without a shuffle-heavy countDistinct, and caps each doc's contribution
    at 1 regardless of how often it repeats the line internally.
    """
    return (
        docs.select(
            F.explode_outer(F.array_distinct(lines_col(F.col(text_col), sep))).alias(
                "line"
            )
        )
        .groupBy("line")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 100,
) -> DataFrame:
    """-> (id_col, text_clean, n_lines, n_removed) with boilerplate lines
    (>= min_docs distinct docs) deleted, surviving-line order preserved.

    Docs whose every line is boilerplate survive with text_clean = ''.
    See the module docstring for the join's shape.
    """
    freq = frequent_lines(docs, text_col, sep, min_docs)
    lines = lines_col(F.col(text_col), sep)
    # explode with position, drop boilerplate via the anti join,
    # reassemble position-ordered. The appended NULL element is a per-doc
    # sentinel: a NULL join key never matches (the anti join keeps it), and
    # count(_line) and array_join skip NULLs, so every doc reaches the
    # groupBy even when all its real lines were removed, at no extra shuffle.
    ex = docs.select(
        id_col,
        F.size(lines).cast("long").alias("n_lines"),
        # posexplode_OUTER: the concat array is never empty/NULL so outer
        # emits identical rows, but the non-outer form makes
        # InferFiltersFromGenerate push a size()>0 predicate below the
        # spread exchange, re-running the whole line split at the scan
        # (the §7 trap in OPTIMIZATION_r06.md).
        F.posexplode_outer(
            F.concat(lines, F.array(F.lit(None).cast("string")))
        ).alias("_pos", "_line"),
    )
    boiler = _broadcast_lines(freq)
    if boiler is None:
        boiler = freq.select(F.col("line").alias("_line"))
    kept = ex.join(boiler, on="_line", how="left_anti")
    return (
        kept.groupBy(id_col, "n_lines")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
                    ),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias("text_clean"),
            F.count("_line").cast("long").alias("_n_kept"),
        )
        .select(
            id_col,
            "text_clean",
            "n_lines",
            (F.col("n_lines") - F.col("_n_kept")).cast("long").alias("n_removed"),
        )
    )


def _broadcast_lines(freq: DataFrame) -> DataFrame | None:
    """freq's lines as a broadcast local relation (_line) when the set fits
    the session's broadcast threshold; None when it does not, or when it
    exceeds the collect bounds, which are checked without collecting more
    than BOILER_MAX_LINES + 1 rows of at most BOILER_MAX_LINE_BYTES each.
    NULL lines (docs without lines) never match an anti join key and are
    left out."""
    spark = freq.sparkSession
    budget = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if budget <= 0:
        return None
    big = F.octet_length("line") > BOILER_MAX_LINE_BYTES
    rows = (
        freq.filter(F.col("line").isNotNull())
        .select(F.when(~big, F.col("line")).alias("line"), big.alias("big"))
        .limit(BOILER_MAX_LINES + 1)
        .collect()
    )
    if len(rows) > BOILER_MAX_LINES or any(r.big for r in rows):
        return None
    if sum(len(r.line.encode("utf-8")) for r in rows) > budget:
        return None
    lines = spark.createDataFrame([(r.line,) for r in rows], "_line string")
    return F.broadcast(lines)
