"""Stopword-hit language identification.

Marker-token counts per language over the whitespace token stream,
argmax with a fixed precedence order for ties (en > de > fr > es >
zh). The five counts come from ONE ``aggregate()`` fold over the
token array — a pure scan expression with NO explode and NO shuffle,
and crucially a SINGLE evaluation of the tokenizer: the per-language
``filter()`` formulation re-evaluated ``tokens(text)`` (a regex
split of the full text) inside every conditional argmax branch,
where codegen's subexpression elimination cannot hoist it (CASE
branches evaluate lazily) and filter pushdown re-inlines any
projected alias. In the fold, the accumulator is a lambda VARIABLE,
so the argmax in the finish lambda references the five counts for
free. Repeated stopwords count once per occurrence, identical to
the grouped-sum semantics. Shared by queries.q_langid and
pipelines/pretrain.

Frames ref: no equivalent (LLM-pipeline extension, SURVEY.md §2b).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frames_spark.functions.text import LANG_STOPWORDS, tokens

LANGS = ("en", "de", "fr", "es", "zh")


def stopword_hits(text_col: Column, lang: str) -> Column:
    """Occurrences of ``lang``'s marker tokens in the text."""
    return F.size(
        F.filter(
            tokens(text_col), lambda t: t.isin(LANG_STOPWORDS[lang])
        )
    ).cast("long")


def _argmax_counts(acc: Column) -> Column:
    """Precedence-ordered argmax over the 5-element count array —
    ``acc`` is a bound lambda variable, so every reference is free."""
    s = [acc[i] for i in range(len(LANGS))]
    return (
        F.when(
            (s[0] >= s[1]) & (s[0] >= s[2]) & (s[0] >= s[3]) & (s[0] >= s[4]),
            F.lit("en"),
        )
        .when((s[1] >= s[2]) & (s[1] >= s[3]) & (s[1] >= s[4]), F.lit("de"))
        .when((s[2] >= s[3]) & (s[2] >= s[4]), F.lit("fr"))
        .when(s[3] >= s[4], F.lit("es"))
        .otherwise(F.lit("zh"))
    )


def predicted_lang_from_tokens(tokens_col: Column) -> Column:
    """Argmax language over a pre-tokenized array — use when the
    caller already carries the token array (the tokenizer then runs
    exactly once per row for ALL its consumers). Memoized: the fold
    interpolates five stopword IN-lists (hundreds of py4j calls)."""
    from frames_spark.functions.exprcache import memo_col

    return memo_col(
        "langid.predicted_lang_from_tokens",
        (tokens_col,),
        lambda: _predicted_lang_from_tokens(tokens_col),
    )


def _predicted_lang_from_tokens(tokens_col: Column) -> Column:
    return F.aggregate(
        tokens_col,
        F.array(*[F.lit(0).cast("long") for _ in LANGS]),
        lambda acc, t: F.array(
            *[
                acc[i]
                + F.when(
                    t.isin(LANG_STOPWORDS[lang]), F.lit(1).cast("long")
                ).otherwise(F.lit(0).cast("long"))
                for i, lang in enumerate(LANGS)
            ]
        ),
        _argmax_counts,
    )


def predicted_lang(text_col: Column) -> Column:
    """The argmax language as a single scan expression — usable
    directly in a filter (no join, no shuffle); tokenizes once."""
    return predicted_lang_from_tokens(tokens(text_col))


def _argmax_scores(s: dict[str, Column]) -> Column:
    """Precedence argmax over NAMED score columns (projection
    context: the columns are attributes, references are free)."""
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["es"]) & (s["en"] >= s["zh"]),
            F.lit("en"),
        )
        .when(
            (s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] >= s["zh"]),
            F.lit("de"),
        )
        .when((s["fr"] >= s["es"]) & (s["fr"] >= s["zh"]), F.lit("fr"))
        .when(s["es"] >= s["zh"], F.lit("es"))
        .otherwise(F.lit("zh"))
    )


def language_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, score_<lang>..., predicted) per document.

    Projection context: the five per-language filter counts sit in
    ONE unconditional select, where codegen subexpression elimination
    hoists the tokenizer — measured FASTER than the fold here (the
    fold allocates a fresh 5-array per token; it wins only inside
    conditional/filter expressions where elimination cannot hoist,
    which is predicted_lang's territory)."""
    scores = df.select(
        F.col(id_col),
        *[
            stopword_hits(F.col(text_col), lang).alias(f"score_{lang}")
            for lang in LANGS
        ],
    )
    return scores.select(
        id_col,
        *[f"score_{lang}" for lang in LANGS],
        _argmax_scores({lang: F.col(f"score_{lang}") for lang in LANGS}).alias(
            "predicted"
        ),
    )
