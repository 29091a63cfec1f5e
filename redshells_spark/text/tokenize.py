"""Tokenization — reference splits lazily on single spaces
(``train/utils/token_iterator.py:20``)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns


def space_tokens(text: Column, lowercase: bool = True) -> Column:
    """``str.split(' ')`` as a Catalyst expression — by default the
    lower-cased token array every whitespace-token operator in
    ``text/`` reads. Empty tokens produced by repeated/leading spaces
    are dropped (the reference keeps them; gensim's Dictionary would
    count them — we drop and document the delta)."""
    toks = F.split(F.lower(text) if lowercase else text, " ")
    return F.filter(toks, lambda t: t != "")


def tokenize_on_space(
    df: DataFrame,
    text_column: str = "text",
    output_column: str = "tokens",
    lowercase: bool = False,
) -> DataFrame:
    """``df`` plus ``output_column`` = :func:`space_tokens` of
    ``text_column``."""
    require_columns(df, [text_column])
    return df.withColumn(output_column, space_tokens(F.col(text_column), lowercase))
