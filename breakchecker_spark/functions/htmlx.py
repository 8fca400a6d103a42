"""HTML harvesting: hrefs, script srcs, and visible-text derivation.

Stdlib :class:`html.parser.HTMLParser` replacement for the reference's
BeautifulSoup usage (/root/reference/break_checker.py:1379-1421):

  * anchor hrefs   — ``find_all("a", href=True)``       (bc:1385-1395, 1400-1403)
  * script srcs    — ``find_all("script", src=True)``   (bc:1412-1416)
  * text-with-sep  — ``soup.get_text(" ")``             (bc:1381-1383)

``get_text(" ")`` in bs4 joins every string node (including script
bodies) with a single separator; :func:`page_text` reproduces that:
each contiguous character-data run becomes one node, joined by " ".
Entity references are decoded (convert_charrefs), matching bs4's
``html.parser`` tree builder.

:func:`harvest` has two paths. With text (``page_text``, anchor text
for ``operators/webgraph``, ``oracle.simulate_crawl``) it is a full
``HTMLParser`` pass (:class:`_Harvester`). Without text, the crawl's
extraction kernel, it is the links-only scan (:class:`_LinkScanner`),
which yields the same hrefs and script srcs at a fraction of the cost:
it replays this interpreter's ``html.parser`` dispatch, skips markup
that cannot raise an event, and reads a plain start tag (attributes
that are bare names or ``name="value"``) with one regex match. So
tests/test_kernel_diff.py pins it to the full pass (hypothesis over
comments, marked sections, unterminated constructs, script/style
bodies, quoted ``>``, plain tags and their near misses), and that test
is what would flag a Python upgrade that changes ``html.parser``.
"""

from __future__ import annotations

import re
import string
from html import parser as _parser
from html.parser import HTMLParser
from typing import List, Optional, Tuple


class _Harvester(HTMLParser):
    """Single-pass collector for hrefs, script srcs, and text nodes.

    ``collect_text=False`` skips text-node accumulation — the crawl hot
    path reads visible text from the pages table's authoritative
    ``text`` column, so the UDF only needs hrefs/srcs.
    """

    def __init__(self, collect_text: bool = True) -> None:
        super().__init__(convert_charrefs=True)
        self._collect_text = collect_text
        self.hrefs: List[str] = []
        self.script_srcs: List[str] = []
        self.text_nodes: List[str] = []
        # (href, collected_text) for the currently-open <a>, used to
        # reproduce the reference's tel-anchor snippet (bc:1407-1409).
        self._open_anchor: Optional[Tuple[str, List[str]]] = None
        self.anchors_with_text: List[Tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.hrefs.append(value)
                    if self._collect_text:
                        self._open_anchor = (value, [])
                    break
        elif tag == "script":
            for name, value in attrs:
                if name == "src" and value is not None:
                    self.script_srcs.append(value)
                    break

    def handle_endtag(self, tag):
        if tag == "a" and self._open_anchor is not None:
            href, chunks = self._open_anchor
            self.anchors_with_text.append((href, " ".join(" ".join(chunks).split())))
            self._open_anchor = None

    def handle_data(self, data):
        if data and self._collect_text:
            self.text_nodes.append(data)
            if self._open_anchor is not None:
                self._open_anchor[1].append(data)


_ASCII_LETTERS = frozenset(string.ascii_letters)
# A start tag's name begins with an ASCII letter, so only one that
# begins a/s (either case) can lower-case to a, script or style.
_MAYBE_EVENT_TAG = frozenset("aAsS")
_EVENT_TAGS = ("a", "script", "style")
# The attributes of a plain start tag: each a bare name or
# name="value", with ASCII whitespace around them, then '>'.
# HTMLParser's locatestarttagend_tolerant and attrfind_tolerant consume
# exactly these attributes, so the tag ends at this '>' and
# parse_starttag fires handle_starttag with them.
_WS = r"[\t\n\r\f ]"
_PLAIN_ATTRS = rf'(?:{_WS}+[^\s/>"\'=<]+(?:{_WS}*={_WS}*"[^"]*")?)*{_WS}*>'
# Runs of markup that raise no event and leave CDATA mode off, skipped
# in one C-level match: character data, end tags (outside CDATA mode
# HTMLParser ends one at the first '>' after '</'), and start tags not
# starting a/s that are either plain or have no '<' or quote up to
# their first '>'. HTMLParser resumes after the latter somewhere in
# (its '<', that '>' + 1] (an attribute value cannot run past the '>'
# without a quote) and finds the next construct at the next '<', which
# lies after the '>', so resuming just after the '>' finds the same one.
_SKIP = re.compile(
    rf"(?:[^<]+|</[^>]*>|<[b-rt-zB-RT-Z][^<>\"']*>"
    rf"|<[b-rt-zB-RT-Z][^\t\n\r\f />\x00<]*{_PLAIN_ATTRS})*"
)
# A plain <a> start tag whose first attribute is href="...": its event
# is that href, entity-decoded as parse_starttag does.
_PLAIN_A_HREF = re.compile(
    rf'<[aA]{_WS}+[hH][rR][eE][fF]{_WS}*={_WS}*"([^"]*)"{_PLAIN_ATTRS}'
)


class _LinkScanner(_Harvester):
    """Links-only scan: the ``a``/``script`` start-tag events that
    :class:`_Harvester` sees under ``feed`` + ``close``, without
    tokenizing what cannot produce one.

    It walks the markup constructs in ``HTMLParser.goahead``'s order,
    with ``close()``'s end-of-input recovery for unterminated ones
    (``feed`` + ``close`` reaches the same events as one pass with
    ``end`` set).  Runs that cannot raise an event are skipped by one
    :data:`_SKIP` match.  Other constructs are delimited by the
    stdlib's own ``parse_comment`` / ``parse_pi`` /
    ``parse_html_declaration`` / ``check_for_whole_start_tag``; a
    plain ``<a href="...">`` start tag is read by one
    :data:`_PLAIN_A_HREF` match, and other ``a``, ``script`` and
    ``style`` start tags go through ``parse_starttag`` (which fires the
    event and enters CDATA mode); CDATA mode ends in
    ``parse_endtag``.  What it leaves out is attribute parsing for
    other tags, character data and its entity decoding, and line
    counting.
    """

    def __init__(self) -> None:
        super().__init__(collect_text=False)

    def scan(self, doc: str) -> None:
        self.rawdata = doc  # read by the inherited parse_* methods
        n = len(doc)
        find = doc.find
        i = 0
        while i < n:
            if self.cdata_elem:
                m = self.interesting.search(doc, i)
                if m is None:
                    return  # unterminated <script>/<style>: no more tags
                i = m.start()
                k = self.parse_endtag(i)
            else:
                i = _SKIP.match(doc, i).end()
                if i == n:
                    return
                c = doc[i + 1 : i + 2]
                if c in _ASCII_LETTERS:
                    m = _PLAIN_A_HREF.match(doc, i) if c in "aA" else None
                    if m:
                        self.hrefs.append(_parser.unescape(m.group(1)))
                        k = m.end()
                    elif (
                        c in _MAYBE_EVENT_TAG
                        and _parser.tagfind_tolerant.match(doc, i + 1).group(1).lower()
                        in _EVENT_TAGS
                    ):
                        k = self.parse_starttag(i)
                    else:
                        k = self.check_for_whole_start_tag(i)
                elif c == "/":
                    k = -1  # _SKIP takes every end tag that has a '>'
                elif doc.startswith("<!--", i):
                    k = self.parse_comment(i)
                elif c == "?":
                    k = self.parse_pi(i)
                elif c == "!":
                    k = self.parse_html_declaration(i)
                elif i + 1 < n:
                    k = i + 1
                else:
                    return
            if k < 0:  # unterminated construct: close()'s recovery
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
            i = k


def harvest(html_doc: str, collect_text: bool = True) -> _Harvester:
    """Parse once; return the populated harvester (errors swallowed).

    ``collect_text=False`` (hrefs and script srcs only) takes the
    links-only scan; everything else is a full ``HTMLParser`` pass.
    """
    h = _Harvester(collect_text=True) if collect_text else _LinkScanner()
    try:
        if collect_text:
            h.feed(html_doc)
            h.close()
        else:
            h.scan(html_doc)
    except Exception:
        pass
    return h


def page_text(html_doc: str) -> str:
    """All character data joined with a single space (bs4 ``get_text(" ")``).

    This is the derivation of the pages table's ``text`` column and the
    second extraction pass that finds emails split across tags
    (reference break_checker.py:1381-1383).
    """
    return " ".join(harvest(html_doc).text_nodes)


def anchor_hrefs(html_doc: str) -> List[str]:
    """All ``<a href=...>`` values in document order."""
    return harvest(html_doc).hrefs


def script_srcs(html_doc: str) -> List[str]:
    """All ``<script src=...>`` values in document order."""
    return harvest(html_doc).script_srcs
