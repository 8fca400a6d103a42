"""Text normalization — the contract behind "byte-identical extracted text".

Pinned against the reference (/root/reference/break_checker.py):
  * norm_text          — break_checker.py:1066-1086
  * backslash decoding — break_checker.py:1032-1043
  * edge-punct strip   — break_checker.py:1047-1063
  * angle-bracket trim — break_checker.py:1016-1028

All functions are pure and stdlib-only so the same code path runs in
golden-vector unit tests and inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import html as _html
import re
import unicodedata

_UNICODE_ESC = re.compile(r"\\u([0-9a-fA-F]{4})")
_HEX_ESC = re.compile(r"\\x([0-9a-fA-F]{2})")
# Wrapper punctuation at the string edges only (reference break_checker.py:1047).
_EDGE_WRAPPERS = re.compile(r"^\s*([<\[\(\{\"']*)(.*?)([>\]\)\}\"']*)\s*$")
_KEEP_CONTROL = "\n\r\t"


def decode_escapes(s: str) -> str:
    r"""Decode ``\uXXXX`` / ``\xNN`` escapes common in script blobs.

    Other backslash escapes are preserved verbatim
    (reference break_checker.py:1032-1043).
    """
    s = _UNICODE_ESC.sub(lambda m: chr(int(m.group(1), 16)), s)
    return _HEX_ESC.sub(lambda m: chr(int(m.group(1), 16)), s)


# ASCII fast path: the only ASCII category-C characters are the C0
# controls (0x00-0x1F, minus kept whitespace) and DEL; NFKC is the
# identity on ASCII, so a translate table reproduces the slow path
# byte-for-byte (parity asserted in tests/test_reference_parity.py).
_ASCII_C_RE = re.compile(
    "[" + "".join(chr(i) for i in range(0x20) if chr(i) not in _KEEP_CONTROL) + "\x7f]"
)
# Non-ASCII runs get the per-char category check; ASCII segments are
# already control-free after the translate, so filtering cost is
# proportional to non-ASCII content only.
_NON_ASCII_RUN = re.compile(r"[^\x00-\x7f]+")


def _drop_c_in_run(m: "re.Match[str]") -> str:
    return "".join(ch for ch in m.group() if unicodedata.category(ch)[0] != "C")


def norm_text(s: str) -> str:
    """HTML-unescape → decode escapes → NFKC → drop category-C chars.

    Control/format characters are removed except ``\\n \\r \\t``; this is
    the normal form every extraction regex runs over, and the definition
    of "extracted text" for the byte-identical-per-url invariant
    (reference break_checker.py:1066-1086). Text with nothing to drop
    skips the removal passes; otherwise ASCII text (and the ASCII
    segments of mixed text) takes a translate-table fast path with
    identical output, and only non-ASCII runs pay the per-char check.
    """
    if "&" in s:  # html.unescape is identity otherwise
        s = _html.unescape(s)
    # escape regexes can't match otherwise; a one-character test scans
    # far faster than a two-character one
    if "\\" in s and ("\\u" in s or "\\x" in s):
        s = decode_escapes(s)
    ascii_ = s.isascii()
    if not ascii_:
        s = unicodedata.normalize("NFKC", s)
    # isprintable() is False for every category-C character (and every
    # separator but the ASCII space): True means nothing to drop
    bare = s
    for c in _KEEP_CONTROL:
        if c in bare:  # replace() scans slower than this when c is absent
            bare = bare.replace(c, "")
    if bare.isprintable():
        return s
    s = _ASCII_C_RE.sub("", s)
    return s if ascii_ else _NON_ASCII_RUN.sub(_drop_c_in_run, s)


def strip_edge_punct(s: str) -> str:
    """Strip wrapper punctuation (``<>[](){}"'``) from the edges only.

    Reference break_checker.py:1050-1063.
    """
    m = _EDGE_WRAPPERS.match(s)
    if not m:
        return s.strip()
    return m.group(2).strip()


def trim_angle_brackets(s: str) -> str:
    """Remove one surrounding ``<...>`` pair if present.

    Reference break_checker.py:1016-1028.
    """
    s = s.strip()
    if s.startswith("<") and s.endswith(">"):
        return s[1:-1]
    return s
