"""justext-style paragraph classification — a SECOND main-content
extractor, plus the same rule set as a pure-codegen DataFrame classifier.

Pomikálek 2011 ("Removing boilerplate and duplicate content from web
corpora", the justext algorithm) classifies paragraphs in two passes:

  context-free (per paragraph):
      link_density > 1/5                      -> bad
      n_chars < LEN_LOW: link_chars > 0 ? bad : short
      stop_density >= STOP_HIGH: n_chars > LEN_HIGH ? good : near-good
      stop_density >= STOP_LOW                -> near-good
      otherwise                               -> bad
  context-sensitive (neighbor propagation; document edges count as bad):
      near-good -> good iff the nearest DEFINITE (good/bad) neighbor on
                   either side is good, else bad
      short     -> good iff the nearest definite neighbors on BOTH sides
                   are good, else bad

This is a documented simplification of justext's revision cascade (the
original lets near-good blocks act as transparent bridges for short
ones); thresholds are scaled to this repo's 7-word-per-language stopword
markers (functions/text.py:LANG_STOPWORDS) rather than justext's
full-size stoplists — hence STOP_LOW/HIGH of 8%/16% instead of 30%/32%.

All density thresholds are INTEGER fractions compared cross-multiplied
(e.g. ``100 * n_stop >= 8 * n_tokens``) so the Spark classifier, the
Python extractor, and the DuckDB oracle agree bit-exactly with no float
thresholds anywhere.

Two consumers:
  - ``extract_main_text_justext`` — a drop-in alternative to
    extraction/html_extract.py:extract_main_text (same pure-function,
    byte-identical-per-url contract), segmenting the HTML at the same
    container boundaries and keeping paragraphs the two passes mark good.
    Scored against gold via operators/extract_eval.py:extraction_f1 — the
    harness exists precisely to compare CANDIDATE extractors.
  - ``justext_classify`` — the classification over any (id, idx, text)
    segment frame as whole-stage-codegen column expressions + two
    IGNORE-NULLS window passes (no Python crossing). At corpus scale the
    windows partition by document — thin, well-distributed partitions.

Reference scope: the reference's extraction stage is a single OCR pass
(backend/server.js:110-134) with no block classification; this band is
part of the training-data extension (SURVEY.md §2.12).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.text import LANG_STOPWORDS

LEN_LOW = 40  # chars: below this a no-link paragraph is only "short"
LEN_HIGH = 70  # chars: stopword-dense paragraphs above this are good
# density thresholds calibrated to the synthetic corpus' 7-word stoplist
# (median token stop-density 2.5%, p75 4.3% — real justext stoplists are
# hundreds of words, hence its published 30%/32%):
STOP_LOW = (2, 100)  # stop_density >= 2% -> at least near-good
STOP_HIGH = (4, 100)  # stop_density >= 4% -> good (if long) / near-good
MAX_LINK = (1, 5)  # link_density > 20% -> bad

_STOP_RE_SRC = r"\b(" + "|".join(LANG_STOPWORDS["en"]) + r")\b"
_URL_RE_SRC = r"https?://\S+"
_STOP_RE = re.compile(_STOP_RE_SRC)
_URL_RE = re.compile(_URL_RE_SRC)


# ---------------------------------------------------------------- shared rule


def _classify_cf(n_chars: int, n_tokens: int, n_stop: int, link_chars: int) -> str:
    """Context-free class from integer features (Python side of the one
    rule both engines share)."""
    if MAX_LINK[1] * link_chars > MAX_LINK[0] * max(n_chars, 1):
        return "bad"
    if n_chars < LEN_LOW:
        return "bad" if link_chars > 0 else "short"
    if STOP_HIGH[1] * n_stop >= STOP_HIGH[0] * n_tokens and n_tokens > 0:
        return "good" if n_chars > LEN_HIGH else "near_good"
    if STOP_LOW[1] * n_stop >= STOP_LOW[0] * n_tokens and n_tokens > 0:
        return "near_good"
    return "bad"


def _resolve_ctx(cf_classes: list[str]) -> list[str]:
    """Context-sensitive pass over one document's ordered cf classes."""
    n = len(cf_classes)
    prev_def: list[str] = []
    cur = "bad"
    for c in cf_classes:
        prev_def.append(cur)
        if c in ("good", "bad"):
            cur = c
    next_def: list[str] = [""] * n
    cur = "bad"
    for i in range(n - 1, -1, -1):
        next_def[i] = cur
        if cf_classes[i] in ("good", "bad"):
            cur = cf_classes[i]
    out = []
    for c, p, nx in zip(cf_classes, prev_def, next_def):
        if c == "near_good":
            out.append("good" if "good" in (p, nx) else "bad")
        elif c == "short":
            out.append("good" if (p, nx) == ("good", "good") else "bad")
        else:
            out.append(c)
    return out


# ------------------------------------------------------- Spark classifier


def _cf_class_col(
    n_chars: Column, n_tokens: Column, n_stop: Column, link_chars: Column
) -> Column:
    """The context-free rule as one codegen CASE chain — cross-multiplied
    integer comparisons, the exact mirror of _classify_cf."""
    return (
        F.when(
            F.lit(MAX_LINK[1]) * link_chars
            > F.lit(MAX_LINK[0]) * F.greatest(n_chars, F.lit(1)),
            F.lit("bad"),
        )
        .when(
            n_chars < LEN_LOW,
            F.when(link_chars > 0, F.lit("bad")).otherwise(F.lit("short")),
        )
        .when(
            (F.lit(STOP_HIGH[1]) * n_stop >= F.lit(STOP_HIGH[0]) * n_tokens)
            & (n_tokens > 0),
            F.when(n_chars > LEN_HIGH, F.lit("good")).otherwise(
                F.lit("near_good")
            ),
        )
        .when(
            (F.lit(STOP_LOW[1]) * n_stop >= F.lit(STOP_LOW[0]) * n_tokens)
            & (n_tokens > 0),
            F.lit("near_good"),
        )
        .otherwise(F.lit("bad"))
    )


def justext_classify(
    segments: DataFrame,
    id_col: str = "doc_id",
    idx_col: str = "seg_idx",
    text_col: str = "seg_text",
) -> DataFrame:
    """Classify ordered text segments: adds (n_chars, n_tokens, n_stop,
    link_chars, cf_class, final_class). Features are codegen expressions
    (regexp_count for stopword hits, length-difference for URL chars);
    the context pass is two IGNORE-NULLS windows partitioned by document
    — document-sized partitions, no skew at corpus scale (the propagation
    never crosses documents).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(text)
    feats = segments.select(
        "*",
        F.length(text).alias("n_chars"),
        F.size(
            F.filter(F.split(F.trim(low), r"\s+"), lambda t: t != "")
        ).alias("n_tokens"),
        F.regexp_count(low, F.lit(_STOP_RE_SRC)).alias("n_stop"),
        (
            F.length(text)
            - F.length(F.regexp_replace(text, _URL_RE_SRC, F.lit("")))
        ).alias("link_chars"),
    ).withColumn(
        "cf_class",
        _cf_class_col(
            F.col("n_chars"),
            F.col("n_tokens"),
            F.col("n_stop"),
            F.col("link_chars"),
        ),
    )
    definite = F.when(
        F.col("cf_class").isin("good", "bad"), F.col("cf_class")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(id_col)
        .orderBy(idx_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ctx = feats.select(
        "*",
        F.coalesce(
            F.last(definite, ignorenulls=True).over(w_prev), F.lit("bad")
        ).alias("prev_def"),
        F.coalesce(
            F.first(definite, ignorenulls=True).over(w_next), F.lit("bad")
        ).alias("next_def"),
    )
    final = (
        F.when(
            F.col("cf_class") == "near_good",
            F.when(
                (F.col("prev_def") == "good") | (F.col("next_def") == "good"),
                F.lit("good"),
            ).otherwise(F.lit("bad")),
        )
        .when(
            F.col("cf_class") == "short",
            F.when(
                (F.col("prev_def") == "good") & (F.col("next_def") == "good"),
                F.lit("good"),
            ).otherwise(F.lit("bad")),
        )
        .otherwise(F.col("cf_class"))
    )
    return ctx.withColumn("final_class", final).drop("prev_def", "next_def")


DEFAULT_SWEEP_CONFIGS = (
    # (config_id, stop_lo, stop_hi, len_low, len_high, link_pct) — config 0
    # IS the shipped policy (module constants above), so its row anchors
    # precision/recall/f1 vs default at exactly 1.0
    {"config_id": 0, "stop_lo": 2, "stop_hi": 4, "len_low": 40, "len_high": 70, "link_pct": 20},
    {"config_id": 1, "stop_lo": 1, "stop_hi": 2, "len_low": 40, "len_high": 70, "link_pct": 20},
    {"config_id": 2, "stop_lo": 4, "stop_hi": 8, "len_low": 40, "len_high": 70, "link_pct": 20},
    {"config_id": 3, "stop_lo": 2, "stop_hi": 4, "len_low": 20, "len_high": 50, "link_pct": 20},
    {"config_id": 4, "stop_lo": 2, "stop_hi": 4, "len_low": 60, "len_high": 90, "link_pct": 20},
    {"config_id": 5, "stop_lo": 2, "stop_hi": 4, "len_low": 40, "len_high": 70, "link_pct": 10},
    {"config_id": 6, "stop_lo": 2, "stop_hi": 4, "len_low": 40, "len_high": 70, "link_pct": 50},
)


def justext_sweep(
    segments: DataFrame,
    configs=DEFAULT_SWEEP_CONFIGS,
    id_col: str = "doc_id",
    idx_col: str = "seg_idx",
    text_col: str = "seg_text",
) -> DataFrame:
    """Threshold-policy frontier: the justext rule re-run over a grid of
    (stop_lo, stop_hi, len_low, len_high, link_pct) configs, each scored
    against the SHIPPED policy's keep set — the A/B table an extraction
    owner reads before changing a production threshold.

    Output (one row per config): the config knobs, n_segments, n_good,
    kept_chars, n_good_default, inter_default, and precision/recall/f1
    vs the default keep set (1e-6 grid; zero-keep configs score 0.0, not
    null). All counts are exact integers, so the fractions are
    cross-engine stable.

    Plan shape: features + the default two-window pass ONCE on the base
    frame, which is then pruned to (ids, 4 int features, default flag) —
    the text column never crosses the config explosion. The broadcast
    crossJoin with the tiny config frame multiplies only thin integer
    rows (k × ~40 bytes/segment); the parameterized CASE is pure codegen
    and the context pass is the same two IGNORE-NULLS windows partitioned
    by (config_id, doc) — document-sized partitions, no skew. At corpus
    scale the sweep costs ~k× the single-policy classify on integer-only
    rows, not k× the text scan.
    """
    base = justext_classify(
        segments, id_col=id_col, idx_col=idx_col, text_col=text_col
    ).select(
        F.col(id_col).alias("_doc"),
        F.col(idx_col).alias("_idx"),
        "n_chars",
        "n_tokens",
        "n_stop",
        "link_chars",
        (F.col("final_class") == "good").cast("int").alias("default_good"),
    )
    spark = segments.sparkSession
    cfg = spark.createDataFrame(
        [
            (
                int(c["config_id"]),
                int(c["stop_lo"]),
                int(c["stop_hi"]),
                int(c["len_low"]),
                int(c["len_high"]),
                int(c["link_pct"]),
            )
            for c in configs
        ],
        "config_id int, stop_lo int, stop_hi int, "
        "len_low int, len_high int, link_pct int",
    )
    x = base.crossJoin(F.broadcast(cfg))
    cf = (
        F.when(
            F.lit(100) * F.col("link_chars")
            > F.col("link_pct") * F.greatest(F.col("n_chars"), F.lit(1)),
            F.lit("bad"),
        )
        .when(
            F.col("n_chars") < F.col("len_low"),
            F.when(F.col("link_chars") > 0, F.lit("bad")).otherwise(
                F.lit("short")
            ),
        )
        .when(
            (F.lit(100) * F.col("n_stop") >= F.col("stop_hi") * F.col("n_tokens"))
            & (F.col("n_tokens") > 0),
            F.when(
                F.col("n_chars") > F.col("len_high"), F.lit("good")
            ).otherwise(F.lit("near_good")),
        )
        .when(
            (F.lit(100) * F.col("n_stop") >= F.col("stop_lo") * F.col("n_tokens"))
            & (F.col("n_tokens") > 0),
            F.lit("near_good"),
        )
        .otherwise(F.lit("bad"))
    )
    x = x.withColumn("cf_class", cf)
    definite = F.when(F.col("cf_class").isin("good", "bad"), F.col("cf_class"))
    w_prev = (
        Window.partitionBy("config_id", "_doc")
        .orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("config_id", "_doc")
        .orderBy("_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ctx = x.select(
        "*",
        F.coalesce(
            F.last(definite, ignorenulls=True).over(w_prev), F.lit("bad")
        ).alias("prev_def"),
        F.coalesce(
            F.first(definite, ignorenulls=True).over(w_next), F.lit("bad")
        ).alias("next_def"),
    )
    is_good = (
        F.when(
            F.col("cf_class") == "near_good",
            (F.col("prev_def") == "good") | (F.col("next_def") == "good"),
        )
        .when(
            F.col("cf_class") == "short",
            (F.col("prev_def") == "good") & (F.col("next_def") == "good"),
        )
        .otherwise(F.col("cf_class") == "good")
        .cast("int")
    )
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    agg = (
        ctx.withColumn("is_good", is_good)
        .groupBy(
            "config_id", "stop_lo", "stop_hi", "len_low", "len_high", "link_pct"
        )
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("is_good").cast("long").alias("n_good"),
            F.sum(
                F.when(F.col("is_good") == 1, F.col("n_chars")).otherwise(0)
            )
            .cast("long")
            .alias("kept_chars"),
            F.sum("default_good").cast("long").alias("n_good_default"),
            F.sum(F.col("is_good") * F.col("default_good"))
            .cast("long")
            .alias("inter_default"),
        )
    )
    prec = F.when(
        F.col("n_good") > 0, F.col("inter_default") / F.col("n_good")
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_good_default") > 0,
        F.col("inter_default") / F.col("n_good_default"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        F.col("n_good") + F.col("n_good_default") > 0,
        F.lit(2) * F.col("inter_default")
        / (F.col("n_good") + F.col("n_good_default")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "*",
        roundn(prec, 6).alias("precision_vs_default"),
        roundn(rec, 6).alias("recall_vs_default"),
        roundn(f1, 6).alias("f1_vs_default"),
    )


# --------------------------------------------------------- Python extractor


def _paragraph_features(fragment: str) -> tuple[str, int]:
    """(visible_text, anchor_link_chars) for one raw HTML fragment —
    reuses html_extract's visible-text contract so the two extractors
    differ only in the KEEP rule, never in text rendering."""
    from invoice_ocr_reconciler_spark.extraction.html_extract import (
        _link_chars,
        _visible_text,
    )

    return _visible_text(fragment), _link_chars(fragment)


def extract_main_text_justext(html_text: str) -> str:
    """Boilerplate strip via the two-pass justext-style classification —
    an alternative keep rule over the SAME segmentation and text
    rendering as extract_main_text (html_extract.py), so extraction_f1
    comparisons isolate the classification policy."""
    from invoice_ocr_reconciler_spark.extraction.html_extract import (
        _BLOCK_SPLIT_RE,
        _CELL_END_RE,
        _COMMENT_RE,
        _DROP_SUBTREE_RE,
        _LINE_BREAK_RE,
    )

    doc = _COMMENT_RE.sub(" ", html_text)
    doc = _DROP_SUBTREE_RE.sub(" ", doc)
    doc = _CELL_END_RE.sub("  ", doc)
    doc = _LINE_BREAK_RE.sub("\n", doc)

    paras: list[str] = []
    cf: list[str] = []
    for raw_block in _BLOCK_SPLIT_RE.split(doc):
        text, link_chars = _paragraph_features(raw_block)
        if not text:
            continue  # empty gaps between container tags carry no signal
        low = text.lower()
        n_tokens = len([t for t in low.split() if t])
        n_stop = len(_STOP_RE.findall(low))
        paras.append(text)
        cf.append(_classify_cf(len(text), n_tokens, n_stop, link_chars))
    final = _resolve_ctx(cf)
    return "\n".join(p for p, c in zip(paras, final) if c == "good")


def extract_pages_justext(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (url, extracted_text) under the justext
    policy — same Arrow-batched, column-pruned, worker-singleton shape as
    extraction/udfs.py:extract_pages (the shipped extractor)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("extracted_text", T.StringType(), True),
        ]
    )

    def _batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": [
                        extract_payload_justext(p) for p in pdf["html"]
                    ],
                }
            )

    return pages.select("url", "html").mapInPandas(_batches, schema=schema)


def compare_extractors(pages: DataFrame, gold: DataFrame) -> DataFrame:
    """Corpus micro-P/R/F1 of BOTH extractors against a gold frame
    (url, gold_text), one row per extractor — the regression table that
    justifies (or rejects) an extraction-policy change before it ships.
    Uses the extraction_f1 harness (operators/extract_eval.py); on the
    extraction-identity page subset the density extractor is the
    byte-identity contract holder, so its row doubles as a canary
    (micro_f1 < 1.0 there means the contract broke)."""
    from invoice_ocr_reconciler_spark.extraction.udfs import extract_pages
    from invoice_ocr_reconciler_spark.operators.extract_eval import (
        extraction_f1,
        extraction_f1_summary,
    )
    from invoice_ocr_reconciler_spark.util import with_scan_parallelism

    gold = gold.select(F.col("url").alias("doc_id"), F.col("gold_text"))

    def _score(pred: DataFrame, name: str) -> DataFrame:
        pairs = gold.join(
            pred.select(
                F.col("url").alias("doc_id"),
                F.col("extracted_text").alias("pred_text"),
            ),
            "doc_id",
            "left",
        ).select("doc_id", "pred_text", "gold_text")
        return extraction_f1_summary(extraction_f1(pairs)).select(
            F.lit(name).alias("extractor"), "*"
        )

    from invoice_ocr_reconciler_spark.extraction.boilerpipe import (
        extract_pages_boilerpipe,
    )
    from invoice_ocr_reconciler_spark.extraction.readability import (
        extract_pages_readability,
    )

    density = extract_pages(with_scan_parallelism(pages)).select("url", "extracted_text")
    jt = extract_pages_justext(pages)
    rd = extract_pages_readability(pages)
    bp = extract_pages_boilerpipe(pages)
    return (
        _score(density, "density")
        .unionByName(_score(jt, "justext"))
        .unionByName(_score(rd, "readability"))
        .unionByName(_score(bp, "boilerpipe"))
    )


def extract_payload_justext(payload: bytes | None) -> str:
    """Dispatch like html_extract.extract_payload — PDF payloads share the
    layout parser (justext is an HTML block policy; PDF text has no DOM)."""
    from invoice_ocr_reconciler_spark.extraction.html_extract import (
        extract_pdf_text,
    )

    if not payload:
        return ""
    if payload[:4] == b"%PDF":
        return extract_pdf_text(payload)
    return extract_main_text_justext(payload.decode("utf-8", errors="replace"))
