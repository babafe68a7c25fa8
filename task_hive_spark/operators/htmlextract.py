"""HTML main-content extraction (boilerplate removal), pure stdlib.

The step between a crawl archive and a training corpus: Common Crawl
response payloads are HTML pages, and the dominant open pipelines
(RefinedWeb, DCLM, FineWeb) all run a trafilatura/jusText-style
extractor — drop chrome subtrees (head, nav, header, footer, aside,
script, style), decode entities, and apply a LINK-DENSITY heuristic to
paragraph blocks so link farms the tag rule misses are still removed.
This module implements that stage over ``html.parser`` (no lxml/bs4
wheel in this container) and gates it the way the src_ round trips
gate encoders: the synth twin wraps each corpus document in a
realistic page (boilerplate everywhere, entities escaped, inline
markup, a link-spam share bar), and the extractor must recover the
document text EXACTLY — one leaked nav item or swallowed entity fails
the hash.

Scale shape: both stages are embarrassingly parallel map work over
Arrow batches (mapInPandas); no shuffle is introduced beyond the
profile aggregate that the gate needs. At 100 TB this composes with
sources/warc.py: binaryFile → member walk → HTTP payload →
extract_main_text, all inside one task.

Reference tie: the ingestion family around tasks/spider.go:21-74 — the
reference crawls spider seeds; extraction is what its downstream
consumers do with the fetched pages.
"""

from __future__ import annotations

import html as _html
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession

# Subtrees that are chrome by construction, dropped wholesale.
_DROP_TAGS = {"head", "script", "style", "nav", "header", "footer", "aside"}
# A paragraph whose text is mostly link text is boilerplate even
# outside chrome subtrees (share bars, tag clouds) — the jusText rule.
_LINK_DENSITY_MAX = 0.5

_CHUNK_WORDS = 17


def synth_html_page(doc_id: int, lang: str, text: str) -> str:
    """A deterministic, realistic page around the document text: the
    text is split into word chunks rendered as <p> blocks (entities
    escaped; some chunks carry inline <b>/<a> markup), surrounded by
    chrome the extractor must drop — head noise, a nav link list, a
    header, a script whose body contains fake markup, a link-spam
    share bar, an aside, and a footer."""
    words = text.split(" ")
    chunks = [
        words[i : i + _CHUNK_WORDS] for i in range(0, max(len(words), 1), _CHUNK_WORDS)
    ]
    paras = []
    for j, chunk in enumerate(chunks):
        esc = [_html.escape(w, quote=True) for w in chunk]
        if esc and (doc_id + j) % 3 == 0:
            esc[0] = f"<b>{esc[0]}</b>"
        if len(esc) >= 12 and (doc_id + j) % 5 == 0:
            esc[1] = f'<a href="/ref/{j}">{esc[1]}</a>'
        paras.append(f'<p class="c{j}">' + " ".join(esc) + "</p>")
    nav_items = "".join(
        f'<li><a href="/s/{k}">Section {k}</a></li>' for k in range(3 + doc_id % 4)
    )
    return (
        "<!DOCTYPE html>\n"
        f'<html lang="{lang}"><head>\n'
        f"<title>Doc {doc_id} &mdash; corpus</title>\n"
        '<meta charset="utf-8">\n'
        "<style>p { margin: 0 0 1em; } .c0 { font-weight: bold }</style>\n"
        '<script>var tease = "<p>not content</p>"; if (1 < 2) { x(); }</script>\n'
        "</head><body>\n"
        f"<nav><ul>{nav_items}</ul></nav>\n"
        f"<header><h1>Doc {doc_id}</h1><p>posted 2024-01-01</p></header>\n"
        "<article>\n<!-- render marker -->\n"
        + "\n".join(paras)
        + '\n<p class="share"><a href="/s">Share</a> <a href="/t">Tweet</a> '
        '<a href="/f">Follow</a></p>\n'
        "</article>\n"
        '<aside><p><a href="/ad1">Sponsored</a> <a href="/ad2">More</a></p></aside>\n'
        f'<footer>&copy; 2024 corpus.example &middot; <a href="/tos">Terms</a>'
        f"</footer>\n</body></html>"
    )


class _Extractor(HTMLParser):
    """Drop chrome subtrees, collect per-<p> text with link-density
    accounting; ``convert_charrefs`` decodes entities in data."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.lang = ""
        self.drop_depth = 0
        self.in_p = False
        self.a_depth = 0
        self.buf: list[str] = []
        self.link_chars = 0
        self.total_chars = 0
        self.paragraphs: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "html":
            self.lang = dict(attrs).get("lang", "") or self.lang
        if tag in _DROP_TAGS:
            self.drop_depth += 1
            return
        if self.drop_depth:
            return
        if tag == "p":
            self._flush()  # unclosed previous <p>: HTML's implied close
            self.in_p = True
        elif tag == "a" and self.in_p:
            self.a_depth += 1

    def handle_endtag(self, tag):
        if tag in _DROP_TAGS:
            self.drop_depth = max(0, self.drop_depth - 1)
            return
        if self.drop_depth:
            return
        if tag == "p":
            self._flush()
        elif tag == "a" and self.a_depth:
            self.a_depth -= 1

    def handle_data(self, data):
        if self.drop_depth or not self.in_p or not data:
            return
        self.buf.append(data)
        self.total_chars += len(data)
        if self.a_depth:
            self.link_chars += len(data)

    def _flush(self):
        if self.in_p:
            if self.total_chars == 0 or (
                self.link_chars / self.total_chars <= _LINK_DENSITY_MAX
            ):
                self.paragraphs.append("".join(self.buf))
            self.in_p = False
            self.a_depth = 0
            self.buf = []
            self.link_chars = 0
            self.total_chars = 0

    def close(self):
        super().close()
        self._flush()


def extract_main_text(page: str) -> tuple[str, str]:
    """(lang, text): chrome subtrees dropped, entities decoded, block
    texts joined with single spaces, link-dense blocks removed. The
    single-space join is the inverse of synth_html_page's word-chunk
    split, which is what lets the hash gate demand EXACT recovery."""
    ex = _Extractor()
    ex.feed(page)
    ex.close()
    return ex.lang, " ".join(p for p in ex.paragraphs if p)


# --- registered query --------------------------------------------------------


def txt_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the markup-hostile derived corpus (textfiles._derived
    with the XML tail — raw & < > and entity-looking tokens ride the
    text) into full boilerplate-laden pages, extract the main content
    back, and profile per language. The oracle is the shared profile
    SQL over the derivation, so a green hash proves extraction is
    EXACT: every entity decoded, every chrome subtree and link-dense
    block dropped, no content word lost."""
    import pandas as pd

    from task_hive_spark.sources.textfiles import _XML_TAIL, _derived, _profile

    d = _derived(spark, sf_dir, _XML_TAIL)

    def roundtrip(batches):
        for pdf in batches:
            langs: list[str] = []
            texts: list[str] = []
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                page = synth_html_page(int(doc_id), lang, text)
                got_lang, got_text = extract_main_text(page)
                langs.append(got_lang)
                texts.append(got_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "lang": langs, "text": texts}
            )

    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    back = d.repartition(nshuf, "doc_id").mapInPandas(
        roundtrip, schema="doc_id long, lang string, text string"
    )
    return _profile(back)


QUERIES = {"txt_html_extract": txt_html_extract}


def _oracles() -> dict[str, str]:
    from task_hive_spark.sources.textfiles import _XML_TAIL, _profile_sql

    return {"txt_html_extract": _profile_sql(_XML_TAIL)}


ORACLES = _oracles()
