"""html_text._PageParser skips HTMLParser's line/offset bookkeeping
(``updatepos`` returns its end index). Pinned here: the parser's
callbacks, and so the extracted text, are those of the same parser with
the stdlib ``updatepos`` restored, on generated pages and on inputs
built to reach each branch of HTMLParser.goahead that calls it."""

import _markupbase

import pytest

from posextract_spark.operators import html_text
from posextract_spark.operators.html_text import _PageParser
from posextract_spark.sources.pages import gen_page


class _TrackingParser(_PageParser):
    updatepos = _markupbase.ParserBase.updatepos


def _state(parser_cls, html, chunk=None, close=False):
    """Everything extract_text_pure reads off the parser after feeding
    ``html`` (whole, or in ``chunk``-sized pieces), plus the unparsed
    tail it keeps buffered."""
    p = parser_cls()
    if chunk is None:
        p.feed(html)
    else:
        for k in range(0, len(html), chunk):
            p.feed(html[k : k + chunk])
    if close:
        p.close()
    return p.title_parts, p.sections, p._p, p.rawdata


def _text(parser_cls, html, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(html_text, "_PageParser", parser_cls)
        return html_text.extract_text_pure(html)


ADVERSARIAL = {
    "newlines": (
        "<html><head><title>Line\none\n</title></head>\n<body>\n"
        '<section\n  class="a"\n><h2\nid="Intro"\n>In\ntro</h2>\n'
        '<p class="x\ny">First line of text\nsecond line of the same paragraph\n'
        "and a third.</p>\n</section>\n</body></html>\n"
    ),
    "markup_decls": (
        "<!DOCTYPE html>\n<?xml-stylesheet href='s.css'?>\n<html><!-- a\ncomment "
        "with <p>tags</p> --><section><p>Five words <!-- inline --> in this "
        "paragraph here.</p><!--unterminated comment? no--></section></html>"
    ),
    "script_style": (
        "<section><script>var s = '</p><section><p>'; // \n</script>"
        "<style>\np::after { content: '</p><section>'; }\n</style>"
        "<p>Paragraph after the script and style bodies.</p></section>"
    ),
    "charrefs": (
        "<section><p>Caf&eacute; &amp; bar &#233;t&#xE9; &lt;p&gt; and &unknown; "
        "words here.</p><p>One two three four five &amp"
    ),
    "cut_charref": "<section><p>One two three four five six &#23",
    "unclosed_nested_upper": (
        "<SECTION><H2 ID='Top'>T</H2><P>Outer paragraph one with enough words."
        "<section><h2 id='Inner'>I</h2><p>Inner paragraph that has five words."
        "</SECTION><P>Outer again after the inner section closes here"
        "</section><p>Outside any section at all, ignored entirely.</p><sec"
    ),
    "trailing_partial_tag": "<section><p>Some words in this paragraph here.</p><p class=\"a",
    "ignored_sections": (
        "<section><h2 id='References'>R</h2><p>Reference paragraph with five words.</p>"
        "</section><section><h2 id='x_links'>L</h2><p>Link paragraph with five words.</p>"
        "</section><section><p>Kept paragraph (with parens) has [brackets] and | more words.</p>"
        "</section>"
    ),
    "bare_lt_and_amp": "<section><p>a < b && c <= d > e & f</p>< p>x</p></section>",
}


@pytest.mark.parametrize("name", sorted(ADVERSARIAL))
@pytest.mark.parametrize("chunk", [None, 1, 7])
def test_adversarial_inputs_match_tracking_parser(name, chunk):
    html = ADVERSARIAL[name]
    assert _state(_PageParser, html, chunk) == _state(_TrackingParser, html, chunk)
    got = _state(_PageParser, html, chunk, close=True)
    assert got == _state(_TrackingParser, html, chunk, close=True)


@pytest.mark.parametrize("name", sorted(ADVERSARIAL))
def test_adversarial_text_matches_tracking_parser(name, monkeypatch):
    html = ADVERSARIAL[name]
    assert _text(_PageParser, html, monkeypatch) == _text(_TrackingParser, html, monkeypatch)


def test_generated_pages_match_tracking_parser(monkeypatch):
    n_with_text = 0
    for i in range(1500):
        page = gen_page(i, seed=1)
        html = page["html"].decode("utf-8")
        got = _text(_PageParser, html, monkeypatch)
        assert got == _text(_TrackingParser, html, monkeypatch), i
        n_with_text += bool(got[1])
    assert n_with_text > 1000
