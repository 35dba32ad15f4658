"""JVM-native text functions: extraction, segmentation, analytics.

The hot path stays in whole-stage codegen — regexp / split / transform
/ aggregate expressions, no Python. The html->text extraction is the
exact inverse of datagen.text_to_html and must agree byte-for-byte
with datagen.extract_text_py (north_rule invariant: byte-identical
extracted text per url).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# -------------------------------------------------------------------
# extraction (deterministic trafilatura-equivalent for synthetic html)
# -------------------------------------------------------------------

def extract_text(html_col: Column | str) -> Column:
    """binary html -> extracted text.

    <p>-content extraction + entity unescape + ' . ' join. Order of
    unescapes matters: &lt;/&gt; first, &amp; LAST (it's the escape
    of the escape character).
    """
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    s = c.cast("string")
    parts = F.expr(
        "transform("
        f"  regexp_extract_all({s._jc.toString()}, '<p>(.*?)</p>', 1),"
        "  p -> replace(replace(replace(p, '&lt;', '<'), '&gt;', '>'), '&amp;', '&'))"
    )
    return F.array_join(parts, " . ")


def with_extracted_text(pages: DataFrame, out_col: str = "extracted_text") -> DataFrame:
    return pages.withColumn(out_col, extract_text("html"))


# -------------------------------------------------------------------
# sentence segmentation (U8: page -> sentences, 1->N posexplode)
# -------------------------------------------------------------------

def segment_sentences(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> (url, sentence_id, sentence, tokens, char_offset).

    Sentences are ' . '-separated (the synthetic corpus' deterministic
    boundary); tokens are whitespace words. char_offset — the
    sentence's start offset in the page text — is the reference's W4
    running-sum (spacy_integration.py:152-158) done as a window
    partial sum, partition-local, no global sort.
    """
    sents = pages.select(
        "url",
        F.posexplode(F.split(F.col(text_col), " \\. ")).alias(
            "sentence_id", "sentence"
        ),
    )
    w = (
        Window.partitionBy("url")
        .orderBy("sentence_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # offset sum runs over ALL segments — blank sentences are filtered
    # only afterwards, so they still contribute len+3 to the offsets of
    # the sentences that follow them (matching the single-process
    # oracle, oracle.py)
    return (
        sents.withColumn(
            "char_offset",
            F.coalesce(F.sum(F.length("sentence") + 3).over(w), F.lit(0)).cast("int"),
        )
        .filter(F.length(F.trim("sentence")) > 0)
        .withColumn("tokens", F.split("sentence", " "))
    )


# -------------------------------------------------------------------
# text analytics (training-data pipeline functions, all JVM-side)
# -------------------------------------------------------------------

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "that", "of", "in", "to", "is",
    "was", "for", "said", "while", "during", "despite", "many",
]


def tokens_ws(text_col: Column | str) -> Column:
    """Whitespace tokens, empty-string-free."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.trim(c), "\\s+"), lambda t: t != "")


def token_count_ws(text_col: Column | str) -> Column:
    return F.size(tokens_ws(text_col))


def token_count_bpe_ish(text_col: Column | str) -> Column:
    """BPE-ish proxy: count of alternating letter-runs / digit-runs /
    single punctuation marks. The lookaround split is Java-regex-only
    (RE2 has no lookbehind) — the DuckDB oracle extracts the same runs
    with '[a-z0-9]+|[^a-z0-9]+' instead (text_token_counts_bpe)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(
        F.filter(
            F.split(c, "(?<=[a-z0-9])(?![a-z0-9])|(?<![a-z0-9])(?=[a-z0-9])"),
            lambda t: F.length(F.trim(t)) > 0,
        )
    )


def stopword_ratio(text_col: Column | str) -> Column:
    toks = tokens_ws(text_col)
    stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS_EN))
    )
    return F.when(F.size(toks) > 0, stop / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text_col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: mean word length band +
    stopword presence + length band. Deterministic arithmetic only,
    reproducible in SQL for the oracle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens_ws(c)
    n = F.size(toks)
    mean_len = F.when(n > 0, F.length(F.regexp_replace(c, "\\s+", "")) / n).otherwise(0.0)
    len_band = F.when((n >= 10) & (n <= 2000), 1.0).otherwise(0.3)
    word_band = F.when((mean_len >= 3.0) & (mean_len <= 12.0), 1.0).otherwise(0.4)
    stop_band = F.when(stopword_ratio(c) >= 0.05, 1.0).otherwise(0.5)
    return F.round((len_band + word_band + stop_band) / 3.0, 6)


def lang_id(text_col: Column | str) -> Column:
    """Marker-token language heuristic (the container has no langid
    lib). Scores tiny per-language marker lexicons; ties -> 'und'.
    On the synthetic corpus (English filler) it flags 'en'."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.transform(tokens_ws(c), lambda t: F.lower(t))
    en = F.size(F.filter(toks, lambda t: t.isin("the", "a", "that", "and", "of", "in")))
    de = F.size(F.filter(toks, lambda t: t.isin("der", "die", "das", "und", "ist")))
    fr = F.size(F.filter(toks, lambda t: t.isin("le", "la", "les", "et", "est")))
    total = F.size(toks)
    return (
        F.when(total == 0, F.lit("und"))
        .when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de > en) & (de >= fr), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


#: PII patterns — deliberately plain regex (classes + quantifiers
#: only) so Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
PII_PATTERNS = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("[0-9]{9,}", "<NUM>"),
]


def pii_scrub(text_col: Column | str) -> Column:
    """Redact emails, IPv4 addresses, and long digit runs. Pattern
    order matters (emails/IPs contain digit runs, so <NUM> goes
    last). Pure codegen regexp_replace chain — the standard
    pre-training scrub pass, run map-side with zero shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c
