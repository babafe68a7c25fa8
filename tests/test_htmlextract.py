"""HTML main-content extraction (operators/htmlextract.py): exact
recovery through realistic boilerplate, entity decoding, the
link-density rule, hostile-markup tolerance, and the profile oracle."""

from __future__ import annotations

from task_hive_spark.plans.oracle import run_all


def test_html_roundtrip_is_exact():
    from task_hive_spark.operators.htmlextract import (
        extract_main_text,
        synth_html_page,
    )

    cases = [
        (1, "en", "key agg row scan slow fast table value part hash value"),
        (5, "fr", "x"),
        (0, "zz", ""),
        (10, "de", 'x & y <angle> "attr" &amp; entity end ' + "pad " * 20 + "tail"),
        (7, "en", " ".join(f"w{i}" for i in range(200))),  # many chunks
    ]
    for doc_id, lang, text in cases:
        got_lang, got_text = extract_main_text(synth_html_page(doc_id, lang, text))
        assert got_lang == lang
        assert got_text == text, doc_id


def test_html_chrome_and_link_spam_dropped():
    from task_hive_spark.operators.htmlextract import (
        extract_main_text,
        synth_html_page,
    )

    page = synth_html_page(3, "en", " ".join(["word"] * 40))
    # the boilerplate really is in the page...
    for marker in ("Share", "Sponsored", "Terms", "posted", "Section", "not content"):
        assert marker in page, marker
    # ...and none of it reaches the extraction
    _, text = extract_main_text(page)
    for marker in ("Share", "Sponsored", "Terms", "posted", "Section", "not content"):
        assert marker not in text, marker


def test_html_extractor_tolerates_hostile_markup():
    from task_hive_spark.operators.htmlextract import extract_main_text

    # unclosed <p>: the next <p> implies a close; EOF flushes the last
    lang, text = extract_main_text(
        '<html lang="en"><body><p>alpha beta<p>gamma</body></html>'
    )
    assert (lang, text) == ("en", "alpha beta gamma")

    # chrome nesting: a <p> inside <aside> must not leak even though
    # <p> handling is active elsewhere
    _, text = extract_main_text(
        "<body><aside><p>buy things</p></aside><p>real</p></body>"
    )
    assert text == "real"

    # script CDATA with fake markup + unbalanced drop-tag close
    _, text = extract_main_text(
        "<body></footer><script>document.write('<p>fake</p>')</script><p>ok</p></body>"
    )
    assert text == "ok"

    # numeric and named entities decode in content
    _, text = extract_main_text("<body><p>&#38; &#x3C; &amp; &lt; &gt;</p></body>")
    assert text == "& < & < >"

    # link-density boundary: mostly-link paragraph dropped, mixed kept
    _, text = extract_main_text(
        '<body><p><a href="/a">aaaa aaaa</a> x</p>'
        '<p>plenty of ordinary words <a href="/b">ref</a> here</p></body>'
    )
    assert text == "plenty of ordinary words ref here"


def test_html_extract_matches_profile_oracle(spark, sf_dir):
    (res,) = run_all(spark, sf_dir, only=["txt_html_extract"])
    assert res.ok, res.detail
    assert res.spark_rows > 0
