"""Text-analysis column functions (SURVEY §2.4): tokenization, shingling,
fingerprinting, quality metrics, language-ID.

All of these are built-in-function compositions (JVM-side, codegen'd) — no
Python UDFs in the hot path. Cross-engine determinism notes are inline: each
function is written so an equivalent DuckDB SQL expression produces
bit-identical results (the oracle contract in queries/base.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalized(text: str | Column) -> Column:
    """lower + whitespace-collapsed + trimmed canonical form."""
    return F.trim(F.regexp_replace(F.lower(col_(text)), r"\s+", " "))


def fingerprint_md5(text: str | Column) -> Column:
    """Content fingerprint: md5 hex of the raw UTF-8 text.

    md5 is identical in Spark and DuckDB (lowercase hex), making exact-dedup
    oracle-checkable.
    """
    return F.md5(col_(text).cast("binary"))


def words(text: str | Column) -> Column:
    """Whitespace tokens (runs of spaces collapse; leading/trailing trimmed)."""
    return F.split(F.trim(col_(text)), " +")


def n_tokens(text: str | Column) -> Column:
    return F.size(words(text)).cast("bigint")


def occurrence_count(text: str | Column, needle: str) -> Column:
    """# of occurrences of a literal substring.

    replace-based so the same arithmetic runs in any SQL engine:
    (len(t) - len(replace(t, s, ''))) / len(s) — exact integer math.
    """
    t = col_(text)
    return (
        (F.length(t) - F.length(F.replace(t, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def punct_count(text: str | Column) -> Column:
    return F.length(F.regexp_replace(col_(text), r"[^.,!?;:]", "")).cast("bigint")


#: language -> marker substrings (padded with spaces: whole-word matches).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " les "),
    "es": (" el ", " y ", " los "),
}


def lang_scores(text: str | Column) -> dict[str, Column]:
    """Marker-occurrence score per language over ' '-padded lowered text."""
    padded = F.concat(F.lit(" "), F.lower(col_(text)), F.lit(" "))
    return {
        lang: sum(
            (occurrence_count(padded, m) for m in markers), start=F.lit(0).cast("bigint")
        ).cast("bigint")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: str | Column) -> Column:
    """Heuristic language-ID: strict-argmax over marker scores, 'und' on tie.

    The CASE chain (strict > against every other language) is order-free and
    portable: any SQL engine evaluates the identical comparisons.
    """
    s = lang_scores(text)
    langs = list(s)
    expr = F.lit("und")
    # build WHEN chain; order irrelevant because conditions are exclusive
    result = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = s[lang] > s[other]
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        result = branch if result is None else result.when(cond, F.lit(lang))
    return result.otherwise(expr)


def split_bucket(key: str | Column, n_buckets: int = 100) -> Column:
    """Deterministic [0, n) bucket from a key — for reproducible train/val
    splits that survive reshuffles, engine changes, and reruns.

    Built from md5 so any SQL engine computes the identical assignment: the
    first four hex chars parse as a 16-bit integer (Spark ``conv(h,16,10)``,
    DuckDB ``CAST('0x'||substr(h,1,4) AS INT)``), giving 65536 uniform
    values — so bucket weights differ by at most 1/655 of each other, and
    every bucket below 65536 is reachable.
    """
    h = F.md5(col_(key).cast("string").cast("binary"))
    return (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % n_buckets
    ).cast("bigint")


def train_val_split(key: str | Column, train_pct: int = 90) -> Column:
    """'train' / 'val' label, deterministic per key (see split_bucket)."""
    return F.when(split_bucket(key) < train_pct, F.lit("train")).otherwise(
        F.lit("val")
    )


def quality_score(text: str | Column) -> Column:
    """Composite quality in [0,1]: length saturation + non-punct + stopword
    presence. All terms are IEEE double ops on exact ints -> deterministic."""
    t = col_(text)
    nt = n_tokens(t).cast("double")
    nc = F.greatest(F.length(t), F.lit(1)).cast("double")
    punct_ratio = punct_count(t).cast("double") / nc
    stop = sum(
        (occurrence_count(F.concat(F.lit(" "), F.lower(t), F.lit(" ")), m)
         for m in (" the ", " a ", " of ", " and ")),
        start=F.lit(0).cast("bigint"),
    ).cast("double")
    stop_ratio = F.least(stop / F.greatest(nt, F.lit(1.0)), F.lit(1.0))
    len_sat = F.least(nt / F.lit(100.0), F.lit(1.0))
    return F.round(len_sat * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2, 6)
