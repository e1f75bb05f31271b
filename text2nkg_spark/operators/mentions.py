"""Mention detection — gaps-and-islands run segmentation, fully declarative.

A mention is a maximal run of consecutive tokens matching a marker predicate
(synthetic surfaces are ``ent``-prefixed, datagen.py; a production system
plugs an NER model into the scoring UDF instead — see
operators/model_scorer.py).

Two equivalent implementations, both shuffle-free per input row:

* ``detect_mentions`` — one higher-order-function fold (``aggregate``, a
  single SQL string for every predicate) over the token array's marker
  indices: zero row explosion, stays inside whole-stage codegen.  This is
  the scale path: no 30x token-explode shuffle, no window function.
* ``detect_mentions_exploded`` — classic posexplode + window + groupBy
  formulation used as a cross-check oracle in tests (and as the DuckDB-SQL
  parity shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _is_mention_token(tok: Column) -> Column:
    return tok.startswith("ent")


def with_tokens(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``tokens`` array column (whitespace tokenization; empty-safe)."""
    return turns.withColumn(
        "tokens",
        F.when(F.length(F.col(text_col)) > 0, F.split(F.col(text_col), " ")
               ).otherwise(F.array().cast("array<string>")),
    )


# The runs-fold as ONE SQL string over a marker-index array: a
# lambda-Column builder costs hundreds of py4j round-trips of DRIVER-side
# construction per query (~0.2-0.5 s, cores-independent — it directly
# depresses the measured N->4N efficiency of short jobs), where a SQL
# string parses JVM-side in one call (~0.08 s).  The fold walks MARKER
# POSITIONS ONLY (sparse — typically a handful per turn), extending the
# last run when the next marker index is contiguous; the accumulator-array
# copies are bounded by the run count, so it beats any formulation that
# touches every token.
_RUNS_FOLD_SQL = """
aggregate(
  {markers},
  CAST(array() AS array<struct<start:int,end:int>>),
  (acc, i) -> IF(size(acc) > 0
                 AND element_at(acc, -1).end = CAST(i AS INT) - 1,
    concat(slice(acc, 1, size(acc) - 1),
           array(named_struct('start', element_at(acc, -1).start,
                              'end', CAST(i AS INT)))),
    concat(acc, array(named_struct('start', CAST(i AS INT),
                                   'end', CAST(i AS INT))))))
"""

# marker indices of the DEFAULT predicate (synthetic ``ent`` prefix)
_DEFAULT_MARKERS_SQL = (
    "filter(transform(tokens, (t, i) -> IF(startswith(t, 'ent'), i, -1)), "
    "i -> i >= 0)")


def detect_mentions(
    turns: DataFrame, text_col: str = "text", predicate=None
) -> DataFrame:
    """Adds ``mentions: array<struct<start:int, end:int>>`` (inclusive ends).

    Single-pass fold over the marker indices of the token array (see
    ``_RUNS_FOLD_SQL``).  ``predicate`` (Column -> Column bool) selects
    marker tokens; the default is the synthetic ``ent`` prefix, all SQL.
    A custom predicate builds only the marker-index array as a lambda
    Column; the fold is the same SQL string.
    """
    df = with_tokens(turns, text_col)
    if predicate is None:
        return df.withColumn("mentions", F.expr(
            _RUNS_FOLD_SQL.format(markers=_DEFAULT_MARKERS_SQL)))
    df = df.withColumn("_mi", F.filter(
        F.transform(
            "tokens",
            lambda t, i: F.when(predicate(t), i).otherwise(F.lit(-1))),
        lambda i: i >= 0))
    return df.withColumn("mentions", F.expr(
        _RUNS_FOLD_SQL.format(markers="_mi"))).drop("_mi")


def detect_mentions_exploded(
    turns: DataFrame, text_col: str = "text", predicate=None
) -> DataFrame:
    """Explode + window islands formulation (test oracle for the fold).

    Returns (conv_id, turn_idx, start, end, surface) one row per mention.
    """
    pred = predicate or _is_mention_token
    df = with_tokens(turns, text_col)
    tok = df.select(
        "conv_id", "turn_idx", F.posexplode("tokens").alias("pos", "tok")
    ).where(pred(F.col("tok")))
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("pos")
    tok = tok.withColumn("prev", F.lag("pos").over(w))
    tok = tok.withColumn(
        "new_run", F.when(F.col("prev").isNull() | (F.col("pos") - F.col("prev") > 1), 1).otherwise(0)
    )
    tok = tok.withColumn("run_id", F.sum("new_run").over(w))
    return (
        tok.groupBy("conv_id", "turn_idx", "run_id")
        .agg(
            F.min("pos").cast("int").alias("start"),
            F.max("pos").cast("int").alias("end"),
            F.array_join(F.collect_list("tok"), " ").alias("surface"),
        )
        .drop("run_id")
    )


def mention_surfaces(df: DataFrame) -> DataFrame:
    """Explodes detected mentions to rows with surface text (for G4/linking).

    Input must have ``tokens`` + ``mentions`` columns (from detect_mentions).
    """
    out = df.select(
        "conv_id",
        "turn_idx",
        "tokens",
        F.explode("mentions").alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.array_join(
            F.slice(F.col("tokens"), F.col("m.start") + 1, F.col("m.end") - F.col("m.start") + 1),
            " ",
        ).alias("surface"),
    )
    return out


def sentence_surfaces(sents: DataFrame) -> DataFrame:
    """``mention_surfaces`` rows from the flat sentence contract
    (``conv_id, turn_idx, text, m_starts, m_ends``, as
    ``plans.pipeline.prepare_sentences`` emits it): the same rows as
    ``mention_surfaces(detect_mentions(turns))``, without detecting again.
    Spans are only ever non-empty on non-empty text, where ``with_tokens``
    is the same split."""
    return mention_surfaces(sents.select(
        "conv_id", "turn_idx",
        F.split("text", " ").alias("tokens"),
        F.expr("zip_with(m_starts, m_ends, "
               "(s, e) -> named_struct('start', s, 'end', e))")
        .alias("mentions"),
    ))
