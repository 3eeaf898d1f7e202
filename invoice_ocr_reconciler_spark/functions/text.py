"""Text-analysis primitives for the large-scale training-data pipeline.

All JVM-side column expressions (whole-stage codegen, no Python crossing):
language-ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. Each has a DuckDB-expressible oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.plans.relational import roundn

# per-language stopword markers for the n-gram/stopword heuristic language ID.
# Word-bounded; chosen to be discriminative between the corpus languages.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "with", "that"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans"],
    "es": ["el", "los", "las", "una", "por", "que", "para"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit"],
}


def _lang_hits(col: Column, lang: str) -> Column:
    pattern = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    # coalesce like every sibling: NULL text must count 0 hits, not emit
    # NULL hit columns that downstream aggregates silently exclude
    return F.regexp_count(F.lower(F.coalesce(col, F.lit(""))), F.lit(pattern))


def lang_id_cols(col: Column) -> dict[str, Column]:
    """Stopword-hit counts per language + argmax prediction."""
    hits = {lang: _lang_hits(col, lang) for lang in LANG_STOPWORDS}
    # deterministic argmax: ties broken by fixed language order via greatest+when chain
    best = None
    pred = F.lit("unknown")
    for lang in LANG_STOPWORDS:  # insertion order is the tiebreak order
        h = hits[lang]
        if best is None:
            best, pred = h, F.when(h > 0, F.lit(lang)).otherwise(F.lit("unknown"))
        else:
            pred = F.when(h > best, F.lit(lang)).otherwise(pred)
            best = F.greatest(best, h)
    return {**{f"hits_{k}": v for k, v in hits.items()}, "lang_pred": pred}


def token_count_col(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    trimmed = F.trim(F.coalesce(col, F.lit("")))
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count_col(col: Column) -> Column:
    """BPE-ish subword proxy: count of word/number/punctuation chunks.

    Pattern: runs of letters, runs of digits, or single non-space symbols —
    the classic pre-tokenizer split used before byte-pair merging.
    """
    return F.regexp_count(
        F.coalesce(col, F.lit("")), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    )


def md5_u60(col: Column) -> Column:
    """First 15 md5 hex digits -> 60-bit non-negative long: the shared
    engine-portable hash for id/register/pick derivations that need more
    than 32 bits but must fit BIGINT in both engines (DuckDB replay:
    ``('0x' || substr(md5(x), 1, 15))::UBIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _round4(x: Column) -> Column:
    return roundn(x, 4)


def quality_score_cols(col: Column) -> dict[str, Column]:
    """Length / punctuation-ratio / stopword-ratio quality features + score.

    score = clamp01(len/500)*0.4 + (1-punct_ratio)*0.3 + min(stop_ratio*5,1)*0.3
    — floor-rounded to 4 places for cross-engine comparability.
    """
    text = F.coalesce(col, F.lit(""))
    n_chars = F.length(text)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    n_tokens = token_count_col(text)
    n_stop = _lang_hits(text, "en")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
    )
    return {
        "n_chars": n_chars,
        "punct_ratio": _round4(punct_ratio),
        "stop_ratio": _round4(stop_ratio),
        "quality_score": _round4(score),
    }


def tokens_col(col: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped — the one tokenization
    every gram-based operator (repetition, decontamination, Gopher rules)
    shares, so their oracles replay a single contract."""
    trimmed = F.trim(F.coalesce(col, F.lit("")))
    return F.filter(F.split(F.lower(trimmed), r"\s+"), lambda t: t != "")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) from a token array; [] if the
    doc has fewer than n tokens. Pure codegen: n aligned slices folded
    with zip_with — the input expression is evaluated O(n) times total,
    NOT once per element (the earlier per-element ``element_at`` form
    made Catalyst inline the whole upstream tokenization into every
    element access: O(len²) expression re-evaluation per document, which
    dominated wall time on gram-heavy operators)."""
    if n == 1:
        return toks
    sz = F.size(toks)
    m = F.greatest(sz - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        nxt = F.slice(toks, 1 + j, m)
        out = F.zip_with(
            out, nxt, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def repetition_cols(col: Column) -> dict[str, Column]:
    """Gopher-style repetition metrics, all JVM-side column expressions:

    - top_2gram_count / top_2gram_frac: occurrences of the most frequent
      word 2-gram and its fraction of all 2-grams (array_sort + a single
      aggregate() scan counting the longest equal-adjacent run — no
      explode, no shuffle);
    - dup_5gram_frac: fraction of word 5-grams that are repeats of an
      earlier 5-gram (1 - distinct/total).

    High values mark boilerplate / spam / generated text; the standard
    cut before near-dup sketching in a pretraining curation pipeline.
    """
    toks = tokens_col(col)
    g2 = _word_ngrams(toks, 2)
    g5 = _word_ngrams(toks, 5)
    n2 = F.size(g2)
    n5 = F.size(g5)
    # longest run of equal adjacent elements in the sorted gram array ==
    # max frequency of any gram. acc = (prev, run, best)
    run = F.aggregate(
        F.array_sort(g2),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top2 = F.when(n2 > 0, run).otherwise(F.lit(0))
    return {
        "top_2gram_count": top2,
        "top_2gram_frac": _round4(
            F.when(n2 > 0, top2.cast("double") / n2).otherwise(F.lit(0.0))
        ),
        "dup_5gram_frac": _round4(
            F.when(
                n5 > 0,
                1.0 - F.size(F.array_distinct(g5)).cast("double") / n5,
            ).otherwise(F.lit(0.0))
        ),
    }


def gopher_rules_cols(col: Column) -> dict[str, Column]:
    """Gopher-style document-quality rule features + combined pass flag,
    all JVM-side column expressions (no Python crossing, no shuffle):

    - n_words: whitespace token count;
    - mean_word_len: mean token length (chars);
    - frac_alpha_words: fraction of tokens containing >=1 [a-z] letter;
    - symbol_word_ratio: (# of '#' + '...'/ellipsis occurrences) / n_words;
    - bullet_line_frac / ellipsis_line_frac: fraction of non-blank lines
      starting with a bullet ('-', '*', '•') resp. ending in an
      ellipsis;
    - gopher_pass: 1 iff every rule holds with the published thresholds
      (50 <= n_words <= 100_000, 3 <= mean_word_len <= 10,
      symbol_word_ratio < 0.1, frac_alpha_words >= 0.8,
      bullet_line_frac < 0.9, ellipsis_line_frac < 0.3).

    Ratios are floor-half-up rounded to 4 places (roundn) and the pass flag
    is evaluated on the ROUNDED values, so the DuckDB oracle replays the
    exact same arithmetic bit-for-bit. Tokens are the shared lowercase
    whitespace tokenization (tokens_col) — a documented deviation from the
    cased original; length-based rules are case-invariant anyway.
    """
    text = F.coalesce(col, F.lit(""))
    toks = tokens_col(col)
    n_words = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = _round4(
        F.when(n_words > 0, total_len.cast("double") / n_words).otherwise(F.lit(0.0))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    frac_alpha = _round4(
        F.when(n_words > 0, n_alpha.cast("double") / n_words).otherwise(F.lit(0.0))
    )
    n_symbols = F.regexp_count(text, F.lit(r"#|\.\.\.|…"))
    symbol_ratio = _round4(
        F.when(n_words > 0, n_symbols.cast("double") / n_words).otherwise(F.lit(0.0))
    )
    # \r?\n split keeps CRLF text from leaving '\r' on every line; the
    # ellipsis anchor is \z (true end-of-string) because Java's '$' also
    # matches BEFORE a final line terminator while the oracle's RE2 '$'
    # does not — \z/$ is the cross-engine-identical pair.
    lines = F.filter(
        F.transform(F.split(text, r"\r?\n"), F.trim), lambda l: l != ""
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]")))
    n_ellipsis_end = F.size(
        F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)\\z"))
    )
    bullet_frac = _round4(
        F.when(n_lines > 0, n_bullet.cast("double") / n_lines).otherwise(F.lit(0.0))
    )
    ellipsis_frac = _round4(
        F.when(n_lines > 0, n_ellipsis_end.cast("double") / n_lines).otherwise(
            F.lit(0.0)
        )
    )
    gopher_pass = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (symbol_ratio < 0.1)
        & (frac_alpha >= 0.8)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "frac_alpha_words": frac_alpha,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "gopher_pass": gopher_pass.cast("int"),
    }


def wordlist_flags(
    docs,
    lexicon,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_col: str = "word",
):
    """C4-style lexicon tagging: per-document counts of tokens that appear
    in a flag list (C4's 'bad words' cut drops any page with one hit;
    RefinedWeb-style pipelines cut on the RATIO — both read off this).

    Returns (id, n_tokens, n_flagged, flagged_ratio, first_flagged):
    occurrence count (not distinct-word count), the 1e-8-grid ratio
    (0.0 for empty docs — no evidence, not a hit), and the first flagged
    token in document order (NULL when clean) for audit samples. Rows are
    never dropped; callers filter (same audit-trail contract as
    blocklist_filter).

    Plan shape: the lexicon (a DataFrame, however it was loaded) collapses
    to ONE lowercased collect_set array row, broadcast onto the corpus;
    the tag itself is a codegen F.filter over the token array — zero
    shuffles on the corpus and no Python. Membership is a linear array
    scan per token: right for the 10^2-10^4-entry lists these cuts use;
    a 10^6-entry lexicon should explode tokens into a broadcast-hash
    semi join instead (same semantics, one partial-agg groupBy back).
    """
    from pyspark.sql import DataFrame

    assert isinstance(docs, DataFrame) and isinstance(lexicon, DataFrame)
    lex = F.broadcast(
        lexicon.agg(
            F.collect_set(F.lower(F.col(word_col))).alias("_lex_words")
        )
    )
    toks = tokens_col(F.col(text_col))
    hits = F.filter(toks, lambda t: F.array_contains(F.col("_lex_words"), t))
    n_tok = F.size(toks)
    n_hit = F.size(hits)
    return (
        docs.crossJoin(lex)
        .select(
            F.col(id_col),
            n_tok.cast("long").alias("n_tokens"),
            n_hit.cast("long").alias("n_flagged"),
            F.when(n_tok > 0, roundn(n_hit / n_tok, 8))
            .otherwise(F.lit(0.0))
            .alias("flagged_ratio"),
            # try_: ANSI element_at throws on a clean doc's empty hit list
            F.try_element_at(hits, F.lit(1)).alias("first_flagged"),
        )
    )


# one char class shared verbatim by Java regex and RE2 (the \x{...} form
# parses in both): C0 controls except \t\n, DEL, zero-width chars + BOM,
# soft hyphen — the invisible junk OCR/boilerplate text carries
_STRIP_CLASS = r"[\x00-\x08\x0B-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}\x{00AD}]"


def clean_text_col(col: Column) -> Column:
    """Codegen unicode hygiene (the CCNet/OSCAR-style first pass, minus
    NFC which needs Python — see nfc_normalize_text): CRLF/CR -> LF,
    strip C0 controls (keeping tab/newline), DEL, zero-width chars, BOM,
    and soft hyphens, NBSP -> space. Pure regexp_replace chain — no
    shuffle, no Python; every pattern is RE2-safe so the DuckDB oracle
    replays it verbatim."""
    u = F.coalesce(col, F.lit(""))
    u = F.regexp_replace(u, "\r\n?", "\n")
    u = F.regexp_replace(u, _STRIP_CLASS, "")
    return F.regexp_replace(u, "\u00A0", " ")


def nfc_normalize_text(
    docs,
    text_col: str = "text",
    out_col: str = "text_norm",
    clean: bool = True,
):
    """Unicode NFC normalization (+ clean_text_col hygiene) — the
    canonical-composition pass every multilingual corpus runs before
    tokenization/dedup: 'e'+COMBINING ACUTE and precomposed 'é' must
    fingerprint identically or every accent-bearing near-dup is missed.

    NFC has no JVM-side builtin, so it is the one Python crossing:
    pandas' vectorized Series.str.normalize('NFC') inside mapInPandas
    (Arrow-batched; per-executor it is a C-level loop, not row-at-a-time
    Python UDF dispatch). NFC runs FIRST, the codegen cleanup after —
    removing zero-width joiners before composition could compose
    sequences the author deliberately separated. ASCII-only corpora are
    NFC fixpoints; the crossing still costs one Arrow round-trip, so
    callers with guaranteed-ASCII text should use clean_text_col alone.

    Scale shape: one mapInPandas projection over (everything, text) —
    no shuffle; place it before the first fingerprint/tokenize stage.
    """
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    from pyspark.sql import DataFrame

    assert isinstance(docs, DataFrame)
    fields = docs.schema.fields
    if out_col not in [f.name for f in fields]:
        docs = docs.withColumn(out_col, F.col(text_col))
        fields = docs.schema.fields
    schema = docs.schema

    def norm(batches):
        for pdf in batches:
            # .str.normalize propagates NaN/None — null text stays null
            pdf[out_col] = pdf[out_col].str.normalize("NFC")
            yield pdf

    out = docs.mapInPandas(norm, schema=schema)
    if clean:
        out = out.withColumn(out_col, clean_text_col(F.col(out_col)))
    return out


def fingerprint_col(col: Column) -> Column:
    """Deterministic document fingerprint over whitespace-normalized text.

    md5 of the normalized text — stable across engines (DuckDB oracle uses
    the same md5), used for exact-dup detection and lineage.
    """
    normalized = F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " "))
    return F.md5(normalized)


def compression_ratio(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
):
    """zlib compression ratio per document — the Gopher/RefinedWeb
    "too compressible" quality signal the n-gram repetition metrics
    (repetition_cols) approximate: boilerplate, keyword stuffing, and
    generated spam compress far below natural prose. Returns
    (id_col, n_bytes, n_compressed, compression_ratio) with ratio =
    n_compressed / n_bytes rounded to 1e-6 (NULL for empty/NULL text —
    no bytes is not the same as incompressible).

    The DEFLATE bit stream has no SQL analog, so this is an honest
    Python crossing: zlib.compress is a C call, batched through Arrow in
    mapInPandas over a COLUMN-PRUNED (id, text) projection — no shuffle,
    no full-row payloads through Python; thresholds are applied by the
    caller JVM-side on the returned metrics. Determinism: zlib output
    depends only on (input bytes, level) for a given zlib build, and the
    ratio is partition-invariant (pinned by tests); level is pinned to
    the zlib default 6 rather than the library default to keep goldens
    stable across Python builds.
    """
    import zlib

    from pyspark.sql import DataFrame

    assert isinstance(docs, DataFrame)
    pruned = docs.select(id_col, text_col)
    schema = (
        f"{id_col} {dict((f.name, f.dataType.simpleString()) for f in pruned.schema.fields)[id_col]}, "
        "n_bytes bigint, n_compressed bigint, compression_ratio double"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            texts = pdf[text_col]
            n_bytes, n_comp, ratio = [], [], []
            for t in texts:
                if t is None or t == "":
                    n_bytes.append(0)
                    n_comp.append(0)
                    ratio.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                n_bytes.append(len(raw))
                n_comp.append(len(comp))
                # mirrors roundn's floor(x*1e6+0.5)/1e6 grid
                ratio.append(
                    int(len(comp) / len(raw) * 1e6 + 0.5) / 1e6
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "compression_ratio": ratio,
                }
            )

    return pruned.mapInPandas(gen, schema=schema)


def split_sentences_col(col: Column) -> Column:
    """Sentence segmentation as a pure codegen expression -> array<string>.

    Heuristic boundary: terminal punctuation ([.!?]) followed by
    whitespace followed by a capital letter. Implemented WITHOUT
    lookaround (RE2-portable — DuckDB can replay the identical rule): a
    single regexp_replace injects a \\u0001 sentinel between the
    terminator and the next sentence's first letter, then one split. Both
    engines scan left-to-right non-overlapping, so consuming the capital
    inside the match is deterministic and identical everywhere.
    Abbreviations ("U.S. Grant") over-split by design — the documented
    trade-off of every regex segmenter; downstream consumers (chunking,
    pack_sequences) need stable, not perfect, boundaries. Fragments are
    trimmed; empties dropped.
    """
    marked = F.regexp_replace(
        F.coalesce(col, F.lit("")), r"([.!?])\s+([A-Z])", "$1\u0001$2"
    )
    parts = F.split(marked, "\u0001")
    # NB: F.transform(parts, F.trim) would bind trim's optional second
    # parameter to the element INDEX (trim-charset '0','1',...) — a silent
    # no-op; higher-order functions need the explicit single-arg lambda
    return F.filter(
        F.transform(parts, lambda s: F.trim(s)), lambda s: s != F.lit("")
    )


def split_sentences(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode documents into (id, sent_idx, sentence, n_sents) rows.

    posexplode keeps the within-document order as an explicit column so
    the result is deterministic under any partitioning; the whole plan is
    scan -> generate inside one codegen stage — no shuffle, no Python.
    """
    sents = split_sentences_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(sents).alias("n_sents"),
        F.posexplode(sents).alias("sent_idx", "sentence"),
    ).select(id_col, "sent_idx", "sentence", "n_sents")


# Unicode-RANGE character classes (not \p{Script} names) so the Java
# (Spark) and RE2 (DuckDB oracle) engines count the exact same chars:
# script-name classes drift with each engine's Unicode table; codepoint
# ranges cannot.
SCRIPT_RANGES = {
    "arabic": "[؀-ۿ]",
    "cyrillic": "[Ѐ-ӿ]",
    "digit": "[0-9]",
    "han": "[一-鿿]",
    "latin": "[A-Za-z]",
}


def script_mix_cols(col: Column) -> dict[str, Column]:
    """Per-document Unicode script composition -> counts per script
    class, a dominant-script label, and its fraction (1e-6 grid).

    The routing/hygiene signal langid alone misses: a "zh" page that is
    80% Latin is template chrome around a stub; Cyrillic spans inside an
    English page are the classic keyword-stuffing / homoglyph-spam tell
    (mojibake_cols catches ENCODING damage; this catches genuine
    mixed-script content). Pure codegen — five regexp_count passes over
    the row, no explode, no shuffle, no Python.

    dominant_script = the alphabetically-first class among those tied at
    the max count ('none' when all are 0) — a total, engine-replayable
    order.
    """
    t = F.coalesce(col, F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(rng)).cast("bigint")
        for name, rng in SCRIPT_RANGES.items()
    }
    total = sum(counts.values(), F.lit(0).cast("bigint"))
    mx = F.greatest(*counts.values())
    dominant = F.when(mx == 0, F.lit("none"))
    for name in sorted(SCRIPT_RANGES):  # alphabetical tie-break
        dominant = dominant.when(counts[name] == mx, F.lit(name))
    frac = F.when(total == 0, F.lit(0.0)).otherwise(roundn(mx / total, 6))
    out = {f"n_{k}": v for k, v in counts.items()}
    out["n_scripted"] = total
    out["dominant_script"] = dominant
    out["dominant_frac"] = frac
    return out
