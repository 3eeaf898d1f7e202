"""Units for pseudonymize, mixture_plan, curriculum_order, and the
Arc90 readability extractor band."""

import pytest
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.extraction.readability import (
    _score_keep,
    extract_main_text_readability,
    readability_classify,
)


# --- pseudonymize ------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- mixture_plan ------------------------------------------------------------


def _srcdocs(spark):
    rows = [(i, f"src{i % 3}", "w " * (10 + i)) for i in range(30)]
    rows.append((100, None, "x y z"))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


# --- curriculum_order --------------------------------------------------------


# --- readability extractor ---------------------------------------------------

HTML = """<html><body>
<div class="nav">home http://x.example/a http://x.example/b</div>
<div class="article">This is the main story, with several commas, and enough
length to score well, because it keeps going for quite a while, really.</div>
<div>short</div>
<div class="sidebar">promo promo promo promo promo promo promo promo promo
promo promo promo promo promo promo promo promo promo promo promo</div>
</body></html>"""


def test_readability_extractor_keeps_article_drops_chrome():
    out = extract_main_text_readability(HTML)
    assert "main story" in out
    assert "promo" not in out and "home" not in out and "short" not in out
    # pure function
    assert out == extract_main_text_readability(HTML)
    assert extract_main_text_readability("") == ""


def test_readability_classify_matches_python_rule(spark):
    segs = spark.createDataFrame(
        [
            (1, 0, "plain segment with, commas, and more, commas, and plenty"
                   " of text to get past one hundred characters total here ok",
             None),
            (1, 1, "short", None),
            (1, 2, "link heavy http://a.example/xxxxxxxxxxxxxxxxxxxxxxxx more",
             None),
            (2, 0, "hinted block with enough chars to pass threshold maybe,"
                   " yes, commas too, and padding padding padding padding",
             'class="article"'),
            (2, 1, "negative block with enough chars to pass threshold maybe,"
                   " yes, commas too, and padding padding padding padding",
             'id="sidebar"'),
            (3, 0, None, None),
        ],
        "doc_id long, seg_idx int, seg_text string, attrs string",
    )
    out = readability_classify(segs, attrs_col="attrs").collect()
    for r in out:
        assert r.keep == _score_keep(
            r.n_chars, r.n_commas, r.link_chars, r.pos_hint, r.neg_hint
        ), r
    by = {(r.doc_id, r.seg_idx): r for r in out}
    assert by[(1, 0)].keep and not by[(1, 1)].keep and not by[(1, 2)].keep
    assert by[(2, 0)].keep and not by[(2, 1)].keep
    assert not by[(3, 0)].keep  # NULL text -> empty -> never kept


def test_readability_hint_tiebreak():
    # both hints present cancel to net 0
    assert _score_keep(200, 3, 0, True, True) == _score_keep(200, 3, 0, False, False)
    # negative hint sinks an otherwise-keepable block
    assert _score_keep(200, 3, 0, False, False)
    assert not _score_keep(200, 3, 0, False, True)
