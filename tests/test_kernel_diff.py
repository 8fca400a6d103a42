"""Differential tests for the fused extraction kernel's fast paths.

Each fast path is compared with the straightforward form it replaces,
kept in tests/chained_extract.py: the links-only HTML scan with a full
stdlib ``HTMLParser`` pass, the per-page canonicalize memo with one
``canonicalize`` per href, the email and phone sweeps (which run their
patterns only where a byte-class search finds a possible match) with
``findall`` of the reference regexes, and ``norm_text`` with its
one-character-at-a-time definition. Hypothesis runs derandomized, so
every run draws the same examples; fixed cases pin the constructs that
a random draw may miss. No Spark session is needed.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from breakchecker_spark.functions import contacts, htmlx, textnorm
from breakchecker_spark.operators import extract
from tests import chained_extract as ref
from tests import fixture_web

_SETTINGS = dict(derandomize=True, deadline=None, database=None)


def _tokens(pieces, max_size):
    return st.lists(st.sampled_from(pieces), max_size=max_size).map("".join)


# ------------------------------------------------------- links-only scan

_HTML_PIECES = [
    # the tags that raise events, in the forms HTMLParser accepts
    '<a href="x">', "<a href='#f'>", "<A HREF=up>", "<a href=z/>", "<a href>",
    "<a href href=second>", "<a name=n>", '<a href="p>q">', "<a\x0bhref=v>",
    "<a/href=w>", '<a href="&amp;e&#64;f&lt;g&#x41;">', "<a href=&quot;u>",
    "<SCRIPT SRC=s.js>", '<script src="t.js"/>', "<script>", "</script>",
    "</SCRIPT >", "</script foo>", "<style>", "</STYLE>", "<style src=st.js>",
    # other tags: uppercase, self-closing, '>' or '<' inside quotes
    "<div>", "<DIV CLASS=c>", '<div title="a>b">', "<div title='<a href=q>'>",
    "<br/>", "<img src=i.png />", "<span>", "<s>", "<sa href=1>", "</div>",
    "</A>", "</>", "<li\x00>", "<div <a href=inner>", "<x<a href=k>",
    "<\u017fcript>", "</\u017fcript>",
    # start tags whose attributes are bare names or name="value", and
    # near misses of that form
    '<div class="c">', '<div a b="c" d>', '<p x="1" y=\'2\'>', '<div a ="b">',
    '<div a= "b>c">', '<div ="b>c">', '<div a=="b">', '<p x="1"y="2">',
    '<div a="b"/>', '<div a="b"\x0b>', '<div\x0ba="b">', '<b<a href="in">',
    '<a href="h" class="c">', '<a href = "h" >', '<a\thref="t"\n>',
    '<a href="1"x>', '<a hrefx="1">', '<A HREF="U" B>', '<a href="">',
    '<a href="h"/>', '<a href="&amp;&#x41;">', '<a  href="h" c="<a href=i>">',
    '<a\x0bhref="v">', '<A\x0cHREF="f">', '<a href="h" \x0bc="d">',
    # comments, marked sections, processing instructions, declarations
    "<!-- c -->", "<!--", "-->", "--!>", "<!---->", "<![CDATA[x]]>",
    "<![CDATA[", "]]>", "<![if IE]>", "<![endif]>", "<![bogus[", "<![",
    "<?pi x?>", "<?pi", "?>", "<!DOCTYPE html>", "<!doctype", "<!x>", "<!",
    # unterminated constructs and bare delimiters
    '<a href="open', "<a href='open", "<div", "</div", "</", "<", ">", "'",
    '"', "=", "/", "/>", "&", "&amp;", "&#64;", "&bogus", "\n", "\t", " ",
    "text", "a", "s",
]
_HTML_CHARS = list("<>/!?-'\"= aAsSbtxc\n\t\x00&#;[]") + [
    "href=", "src=", "script", "style", "--", "CDATA[", "doctype",
]


def _scan(doc):
    h = htmlx.harvest(doc, collect_text=False)
    return h.hrefs, h.script_srcs


@given(doc=_tokens(_HTML_PIECES, 30))
@settings(max_examples=2000, **_SETTINGS)
def test_links_scan_equals_htmlparser_on_constructs(doc):
    assert _scan(doc) == ref.ref_harvest(doc)


@given(doc=_tokens(_HTML_CHARS, 40))
@settings(max_examples=2000, **_SETTINGS)
def test_links_scan_equals_htmlparser_on_characters(doc):
    assert _scan(doc) == ref.ref_harvest(doc)


@pytest.mark.parametrize(
    "doc",
    [
        "",
        '<script>var s = "<a href=in-script>";</script><a href=after>',
        "<style>a { } <a href=in-style></style><a href=after>",
        "<script>never closed <a href=lost>",
        "<!-- <a href=in-comment> --><a href=after>",
        "<!-- unterminated <a href=x>",
        "<![CDATA[<a href=in-cdata>]]><a href=after>",
        "<![unknown <a href=x>",  # HTMLParser raises here: nothing after counts
        "<?pi <a href=x> ?><a href=after>",
        "<!DOCTYPE html><A HREF='UP'></A><Script Src=s.js></sCrIpT><a href=z>",
        '<div title="x > <a href=quoted>"><a href=real>',
        "<a href='amp&amp;lt&lt;hex&#x40;'>",
        "<a href=x",
        "<br/><a href=self-closing/>",
        '<a\x0bhref="in-tag-name"><a href="h" class="c">',
    ]
    + list(fixture_web.build_pages().values()),
)
def test_links_scan_equals_htmlparser_fixed(doc):
    assert _scan(doc) == ref.ref_harvest(doc)


# ------------------------------------------------ canonicalize memo

_SCOPE = "ex.com"
_BASES = [
    "https://ex.com/", "https://ex.com", "https://ex.com/a/b?q=1#frag",
    "http://sub.ex.com/x;p?y=2&utm_source=z#", "https://ex.com:443/dir/",
    "https://ex.com/a/page.html?b=2&a=1", "https://other.org/p", "http:ex.com",
]
_HREF_PIECES = [
    "#", "#x", "#a#b", " ", "\t", "\n", "/p", "p", "..", "/", "?", "q=1", "&",
    "utm_source=u", "//sub.ex.com", "//other.org", "https://ex.com",
    "http://ex.com:80", "javascript:", "mailto:a@ex.com", "data:", ".js",
    ".mjs", ".png", "/static/", ";", ":", "%20", "\x00", "\x01",
]
_HREFS = st.lists(
    st.one_of(
        st.sampled_from(
            ["", " ", "#", "#top", " #frag ", "\t/p#x\n", "javascript:#",
             "javascript:void(0)#x", "?q=1#f", "p.js#v", "/a/../b.js#"]
        ),
        _tokens(_HREF_PIECES, 6),
    ),
    max_size=12,
)


def _ref_links(base, hrefs, srcs):
    return ref.ref_canonical_links(base, hrefs, _SCOPE, False) + ref.ref_canonical_links(
        base, srcs, _SCOPE, True
    )


@given(base=st.sampled_from(_BASES), hrefs=_HREFS, srcs=_HREFS)
@settings(max_examples=1000, **_SETTINGS)
def test_page_links_memo_equals_one_canonicalize_per_href(base, hrefs, srcs):
    assert extract._page_links(base, hrefs, srcs, _SCOPE) == _ref_links(base, hrefs, srcs)


def test_page_links_fragment_variants_fixed():
    hrefs = ["#", "#a", "#b", " #c ", "", "  ", "javascript:#", "/p#1", "/p#",
             "/p", " /p#2", "?x=1#a", "?x=1", "p.js#v", "p.js"]
    for base in _BASES:
        assert extract._page_links(base, hrefs, hrefs, _SCOPE) == _ref_links(
            base, hrefs, hrefs
        )


# ----------------------------------- email guard, phone pattern, norm_text

_TEXT_PIECES = [
    "a", "Z", "0", "7", "+", "-", ".", "_", "%", "@", " ", "(", ")", "\n",
    "\r", "\t", "\x0b", "\x00", "\x1f", "\x7f", "\u200b", "\u00ad", "\u0085",
    "\u00a0", "\u2028", "\ufeff", "\ud800", "\ue000", "\u0378", "\u00e9",
    "e\u0301", "\ufb01", "\u2460", "\uff10", "\u0663", "\u2014", "&amp;", "&#64;",
    "&#x200b;", "&nbsp;", "&", "\\u0040", "\\x41", "\\u200b", "\\",
    "info", "@ex.com", ".gr", ".png", "+30 210 123 4567", "(210) 1234-567",
    "user@ex.com", "a@b.c", "x@2x.png", "?", "\u03b1", "\u03c4\u03b7\u03bb. ",
    "\u1680", "\u3000", "\U0001d7ce", "\u0661\u0662",
]
_TEXTS = _tokens(_TEXT_PIECES, 40)


@given(s=_TEXTS)
@settings(max_examples=2000, **_SETTINGS)
def test_norm_text_equals_definition(s):
    assert textnorm.norm_text(s) == ref.ref_norm_text(s)


@given(s=_TEXTS)
@settings(max_examples=2000, **_SETTINGS)
def test_email_and_phone_sweeps_equal_reference_regexes(s):
    for text in (s, ref.ref_norm_text(s)):
        assert contacts.extract_emails(text) == ref.ref_extract_emails(text)
        assert contacts.extract_phones(text) == ref.ref_extract_phones(text)


@pytest.mark.parametrize(
    "s",
    [
        "", "no at sign 2101234567", "+30 210 123 4567 and +1 555 0100",
        "++302101234567", "+ 2101234567", "(210)-123 4567x", "1234567",
        "12345678", "x\u200by@ex.com", "soft\u00adhyphen@ex.com",
        "nel\u0085line 2101234567", "del\x7fchar 210 123 4567",
        "mixed \u00a0nbsp\u200b zwsp \ufeff bom \u0085 nel",
        "&#x200b;&amp;&#64;\\u0040\\x41", "\ud800 lone surrogate \ue000",
        "user@ex.com, logo@2x.png; a.b@c.d.gr", "x@2x.png\u00e9 y@b.co?z",
        "\u03c4\u03b7\u03bb. 210 123 4567, \u03c6\u03b1\u03be 210\u20281234567",
        "\u0663\u0663\u0663 \u0663\u0663\u0663\u0663\u0663 +\U0001d7ce1234567",
    ],
)
def test_sweeps_and_norm_text_fixed(s):
    assert textnorm.norm_text(s) == ref.ref_norm_text(s)
    assert contacts.extract_emails(s) == ref.ref_extract_emails(s)
    assert contacts.extract_phones(s) == ref.ref_extract_phones(s)


def test_sweeps_every_code_point():
    # the sweeps classify characters by byte before running the regexes
    # (contacts._PHONE_BYTE_CLASS, contacts._EMAIL_LOCAL_CLASS); with each
    # character inside a would-be match, a misclassified one shows
    for c in map(chr, range(0x110000)):
        s = f"12345{c}678"
        assert contacts.extract_phones(s) == ref.ref_extract_phones(s), repr(c)
    for c in map(chr, range(0x800)):
        s = f"a{c}b@ex.gr{c}"
        assert contacts.extract_emails(s) == ref.ref_extract_emails(s), repr(c)


# ---------------------------------------------------- the whole kernel

_PAGE = st.tuples(
    st.sampled_from(["https://ex.com/", "https://ex.com/a/b?q=1", "https://ex.com/app.js"]),
    st.lists(
        st.one_of(
            st.sampled_from(_HTML_PIECES),
            _HREFS.map(lambda hs: "".join(f'<a href="{h}">l</a>' for h in hs)),
            st.sampled_from(_TEXT_PIECES + ['<a href="mailto:x@ex.com">', '<a href="tel:+302101234567">']),
        ),
        max_size=20,
    ).map("".join),
    st.one_of(st.none(), _TEXTS),
)


@given(pages=st.lists(_PAGE, min_size=1, max_size=4))
@settings(max_examples=150, **_SETTINGS)
def test_fused_kernel_equals_reference_rows(pages):
    fn = extract._fused_preextract_fn(_SCOPE, "GR", _SCOPE)
    batch = pd.DataFrame(pages, columns=["url", "_raw", "text"])
    (out,) = fn(iter([batch]))
    got = out.to_dict("records")
    for row in got:
        row["links"] = [link["url"] for link in row["links"]]
    want = [ref.ref_kernel_row(u, d, t, _SCOPE, "GR", _SCOPE) for u, d, t in pages]
    assert got == want
