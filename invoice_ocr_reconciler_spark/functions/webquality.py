"""Web-page quality heuristics beyond the basic quality score.

Four independent per-document passes a 100 TB crawl-curation pipeline runs
between extraction and dedup, all pure codegen column expressions (no
Python crossing, whole-stage codegen end to end) and all expressible in
DuckDB SQL so the driver's value-hash oracle can replay the REAL
computation (not just a synthesis rule):

- soft-404 detection: error pages served with HTTP 200 ("page not found"
  bodies, 404 titles, thin content) poison a corpus because url-keyed
  dedup keeps them as distinct documents. Flag them from content alone.
- readability scoring: Flesch reading-ease / FK grade with a vowel-group
  syllable proxy — the standard cheap complexity feature for quality
  stratification (reference has no analog; this extends its P11
  confidence-score idea, backend/invoiceParser.js:111-114, to prose).
- code-vs-prose detection: symbol density + indent structure + keyword
  hits; used to route documents to code-specific pipelines and to keep
  prose-quality rules from junking source files.
- mojibake repair: UTF-8-decoded-as-Latin-1 artifacts ("Ã©", "â€™") are
  endemic in web text; detect and repair the frequent sequences with a
  fixed replace chain (CCNet/OSCAR run the same first-pass hygiene).

Scale notes: each is a narrow projection over `text` only — the scan
prunes every other column, there is no shuffle, no UDF, and the cost is
one codegen pass per document regardless of corpus size. Regexes avoid
lookaround so RE2 (DuckDB) replays them verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.text import token_count_col
from invoice_ocr_reconciler_spark.plans.relational import roundn

# ---------------------------------------------------------------------------
# soft-404

# lowercase-matched; word-bounded where a bare token would over-match
SOFT404_TITLE_PAT = r"(\b404\b|not found|page unavailable|error)"
SOFT404_BODY_PAT = (
    r"(page not found|does not exist|no longer available|been removed"
    r"|could not be found)"
)
SOFT404_THIN_TOKENS = 30


def soft_404_cols(title: Column, text: Column) -> dict[str, Column]:
    """Soft-404 signals + score from title/body content alone.

    score = 0.5*title_hit + 0.3*body_hit + 0.2*thin; flag at >= 0.5 — a
    404-ish title alone flags, body phrases flag only on thin pages (real
    articles ABOUT missing pages survive).
    """
    t = F.lower(F.coalesce(title, F.lit("")))
    b = F.lower(F.coalesce(text, F.lit("")))
    title_hit = (F.regexp_count(t, F.lit(SOFT404_TITLE_PAT)) > 0).cast("int")
    body_hit = (F.regexp_count(b, F.lit(SOFT404_BODY_PAT)) > 0).cast("int")
    thin = (token_count_col(text) < SOFT404_THIN_TOKENS).cast("int")
    score = title_hit * F.lit(0.5) + body_hit * F.lit(0.3) + thin * F.lit(0.2)
    return {
        "title_hit": title_hit,
        "body_hit": body_hit,
        "thin": thin,
        "soft404_score": roundn(score, 4),
        "is_soft404": score >= F.lit(0.5),
    }


# ---------------------------------------------------------------------------
# readability


def readability_cols(text: Column) -> dict[str, Column]:
    """Flesch reading-ease + Flesch-Kincaid grade, vowel-group syllables.

    syllables ~= count of [aeiouy]+ runs over the lowercased text (the
    classic cheap proxy); sentences = [.!?]+ runs clamped to >= 1; words =
    whitespace tokens. Both scores NULL on empty text, else rounded on the
    4-grid so the DuckDB replay is bit-identical.
    """
    t = F.coalesce(text, F.lit(""))
    words = token_count_col(t).cast("double")
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("double")
    syllables = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("double")
    wps = words / sentences
    spw = syllables / words  # NULL-safe: words=0 handled by the guard below
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    empty = words == 0
    return {
        "n_words": words.cast("long"),
        "n_sentences": sentences.cast("long"),
        "n_syllables": syllables.cast("long"),
        "flesch_ease": F.when(empty, F.lit(None).cast("double")).otherwise(
            roundn(ease, 4)
        ),
        "fk_grade": F.when(empty, F.lit(None).cast("double")).otherwise(
            roundn(grade, 4)
        ),
    }


# ---------------------------------------------------------------------------
# code vs prose

CODE_SYMBOL_PAT = r"[{}();=<>\[\]]"
CODE_KEYWORD_PAT = (
    r"\b(def|function|class|import|return|var|const|if|else|for|while)\b"
)
# a newline followed by structural indentation (2+ spaces or a tab)
CODE_INDENT_PAT = r"\n(  |\t)"


def code_detect_cols(text: Column) -> dict[str, Column]:
    """Code-vs-prose heuristic: symbol density, indented-line ratio,
    keyword density per token.

    code_score = 0.5*min(10*sym_ratio,1) + 0.3*min(2*indent_ratio,1)
               + 0.2*min(kw_per_tok*10,1); is_code at >= 0.5.
    """
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    n_sym = F.regexp_count(t, F.lit(CODE_SYMBOL_PAT))
    n_kw = F.regexp_count(F.lower(t), F.lit(CODE_KEYWORD_PAT))
    n_indent = F.regexp_count(t, F.lit(CODE_INDENT_PAT))
    n_lines = F.regexp_count(t, F.lit(r"\n")) + 1
    n_tok = token_count_col(t)
    sym_ratio = F.when(n_chars > 0, n_sym / n_chars).otherwise(F.lit(0.0))
    indent_ratio = n_indent / n_lines  # n_lines >= 1 always
    kw_per_tok = F.when(n_tok > 0, n_kw / n_tok).otherwise(F.lit(0.0))
    score = (
        F.least(sym_ratio * 10.0, F.lit(1.0)) * 0.5
        + F.least(indent_ratio * 2.0, F.lit(1.0)) * 0.3
        + F.least(kw_per_tok * 10.0, F.lit(1.0)) * 0.2
    )
    return {
        "n_symbols": n_sym,
        "n_keywords": n_kw,
        "n_indented": n_indent,
        "code_score": roundn(score, 4),
        "is_code": score >= F.lit(0.5),
    }


# ---------------------------------------------------------------------------
# mojibake repair

# (artifact, repaired) pairs — the high-frequency UTF-8-bytes-decoded-as-
# Latin-1/CP1252 sequences. Replace order: 3-byte artifacts ("â€¦") before
# 2-byte ones so a longer artifact is never half-eaten by a shorter rule
# (none of the 2-byte artifacts is a prefix of a 3-byte one here, but the
# ordering contract is load-bearing for future additions and is replayed
# in the same order by the oracle).
MOJIBAKE_MAP: list[tuple[str, str]] = [
    ("â€™", "’"),  # â€™ -> right single quote
    ("â€œ", "“"),  # â€œ -> left double quote
    ("â€“", "–"),  # â€“ -> en dash
    ("â€¦", "…"),  # â€¦ -> ellipsis
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã¡", "á"),  # Ã¡ -> á
]

# alternation of the artifacts for the pre-repair occurrence count; the
# sequences contain no regex metacharacters, so no escaping is needed
_MOJIBAKE_COUNT_PAT = "(" + "|".join(a for a, _ in MOJIBAKE_MAP) + ")"


def mojibake_cols(text: Column) -> dict[str, Column]:
    """Detect + repair the frequent mojibake sequences.

    n_fixes counts artifact occurrences BEFORE repair (the regexp
    alternation), fixed_text applies the literal replace chain in map
    order. Pure string ops; DuckDB replays replace-for-replace.
    """
    t = F.coalesce(text, F.lit(""))
    n_fixes = F.regexp_count(t, F.lit(_MOJIBAKE_COUNT_PAT))
    fixed = t
    for artifact, repaired in MOJIBAKE_MAP:
        fixed = F.replace(fixed, F.lit(artifact), F.lit(repaired))
    return {
        "n_fixes": n_fixes,
        "fixed_text": fixed,
        "is_mojibake": n_fixes > 0,
    }
