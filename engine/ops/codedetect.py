"""Code-vs-prose detection: tag documents whose extracted text is
source code, markup, or data rather than natural-language prose — the
routing signal a training-mix pipeline needs before language-specific
screens run (quality rules, LM perplexity, and sentence-aware chunking
are all calibrated on prose and misjudge code; web-scale corpus builds
route code to a separate pipeline rather than letting a prose quality
filter silently delete it — cf. RedPajama/RefinedWeb practice of
processing code corpora separately from CommonCrawl text).

Heuristic, deterministic, and disclosed — NOT a trained model: four
char/line-shape feature families plus a bounded keyword panel, each a
pure JVM column expression, combined into one weighted score. A
trained classifier would slot in at engine/ops/classify.py over these
same features; this op's job is the cheap first-pass tag.

Scale shape: ONE map-only pass, pure codegen — every feature is a
regexp/filter/transform expression over the text column, no Python,
no shuffle, text never moves (plan-asserted in
tests/test_codedetect.py). At 10^12 docs this runs beside the other
map-only curate screens at scan cost.

Features (each in [0, 1]):

  sym      density of code punctuation ``{}[]()<>=;|&`$\\`` + ``#@~^``
           among non-space chars (prose ~0.01, code 0.05-0.4),
           saturating at 8x so dense-markup docs don't dominate
  indent   fraction of non-blank lines starting with a tab or >= 2
           spaces (block structure; prose paragraphs never indent)
  lineend  fraction of non-blank lines ending in ``; { } : , = >`` or
           continuation backslash (statement/tag shape — prose lines
           end in sentence punctuation)
  kw       bounded panel of anchored language markers (def/class,
           function(, #include, import, SQL SELECT..FROM, closing
           HTML tags, => / := / && / ||, code fence); each hit is
           0/1, panel mean — anchored so prose MENTIONING keywords
           does not fire

score = 0.35*sym + 0.25*indent + 0.2*lineend + 0.2*kw; is_code at
>= 0.35 by default (prose measures <= ~0.1 on every family, real code
>= ~0.5 — the margin is pinned in tests either side of the boundary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# code punctuation, deliberately EXCLUDING prose punctuation .,!?'"-
_SYM_RE = r"[{}\[\]()<>=;|&`$\\#@~^]"

# anchored language-marker panel: each pattern is a strong, cheap
# signal on its own; the panel mean bounds any one family's influence
_KW_PATTERNS = (
    r"(?m)^\s*(def|class)\s+\w+\s*[(:]",          # python
    r"(?i)function\s*\w*\s*\(",                   # js/php
    r"(?m)^\s*#\s*include\s*[<\"]",               # c/c++
    r"(?m)^\s*(import|from)\s+[\w.]+",            # python/java/go
    r"(?m)^\s*(public|private|static)\s+\w+",     # java/c#
    r"(?i)select\s+.+\s+from\s+\w+",              # sql
    r"</\w+>",                                    # markup
    r"(=>|:=|&&|\|\||!==?=?)",                    # operators
    r"```",                                       # markdown fence
    r"(?m)^\s*(//|/\*|\*/)",                      # c-style comments
)

DEFAULT_THRESHOLD = 0.35


def _nonblank_lines(text: Column) -> Column:
    return F.filter(
        F.split(text, r"\n", -1), lambda ln: F.trim(ln) != F.lit("")
    )


def _line_frac(lines: Column, pred) -> Column:
    n = F.size(lines)
    return F.when(
        n > 0, F.size(F.filter(lines, pred)) / n
    ).otherwise(F.lit(0.0))


def detect_code(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = DEFAULT_THRESHOLD,
    out_col: str = "code_score",
    flag_col: str = "is_code",
) -> DataFrame:
    """docs -> docs + (code_score double, is_code boolean).

    Never drops rows — callers route on the flag (tag for a separate
    code pipeline, exclude from prose curation, or stratify the
    training mix). Null/empty text scores 0.0 (not code)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    nonspace = F.regexp_replace(text, r"\s", "")
    syms = F.length(nonspace) - F.length(
        F.regexp_replace(nonspace, _SYM_RE, "")
    )
    sym = F.when(
        F.length(nonspace) > 0,
        F.least(F.lit(1.0), syms / F.length(nonspace) * 8.0),
    ).otherwise(F.lit(0.0))

    lines = _nonblank_lines(text)
    indent = _line_frac(lines, lambda ln: ln.rlike(r"^(\t|  )"))
    lineend = _line_frac(
        lines, lambda ln: ln.rlike(r"[;{}:,=>\\]\s*$")
    )

    hits = sum(
        (F.when(text.rlike(p), 1).otherwise(0) for p in _KW_PATTERNS),
        F.lit(0),
    )
    kw = hits / float(len(_KW_PATTERNS))

    score = (
        F.lit(0.35) * sym
        + F.lit(0.25) * indent
        + F.lit(0.20) * lineend
        + F.lit(0.20) * kw
    ).cast("double")
    return docs.withColumn(out_col, score).withColumn(
        flag_col, F.col(out_col) >= F.lit(float(threshold))
    )
