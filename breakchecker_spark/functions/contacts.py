"""Email/phone extraction + normalization and org-scope filtering.

Pinned against the reference (/root/reference/break_checker.py):
  * email regex (ext-lookahead)   — break_checker.py:978-988
  * phone regex                   — break_checker.py:991
  * TLD → region map              — break_checker.py:994-1013
  * email normalization           — break_checker.py:1089-1105
  * phone normalization           — break_checker.py:1108-1134
  * mailto:/tel: parsing          — break_checker.py:1137-1196
  * org-scope filter              — break_checker.py:1259-1276

Documented deviations (this sandbox ships neither ``email_validator``,
``phonenumbers`` nor ``tldextract`` — stdlib-only replacements):

* **Email validity** is a deterministic RFC-lite syntactic check
  (the reference delegates to ``email_validator``); deliverability/DNS
  checks are pinned OFF for hermeticity (SURVEY.md §7.3).
* **Phone validity** uses an embedded mini phone-metadata table
  (country calling code, national-number length set, trunk prefix) for
  the regions the reference's TLD map covers, instead of libphonenumber.
  Output format matches the reference contract: digits-only NATIONAL
  representation, minimum 7 digits.
* **Registered domain** resolves against a full ICANN-section snapshot
  of the Public Suffix List shipped as package data (same list
  tldextract bundles; private registries excluded per its defaults),
  with an embedded common-suffix subset as fallback if the data file
  is absent.
"""

from __future__ import annotations

import os
import re
from typing import List, Optional
from urllib.parse import parse_qs, unquote

from .textnorm import norm_text, strip_edge_punct, trim_angle_brackets

# ---------------------------------------------------------------- regexes

# File extensions that must not be mistaken for email TLDs
# (reference break_checker.py:978-982).
_EMAIL_BAD_TLDS = (
    "png", "jpg", "jpeg", "gif", "svg", "bmp", "webp", "ico",
    "css", "js", "json", "xml", "csv", "txt", "pdf",
    "doc", "docx", "xls", "xlsx",
)

# Negative lookahead keeps ``logo@2x.png``-style strings out
# (reference break_checker.py:985-988). Java regex (Spark's
# regexp_extract_all) supports the same lookahead syntax.
_EMAIL_LOCAL_CHAR = r"[a-zA-Z0-9._%+-]"
EMAIL_PATTERN = (
    _EMAIL_LOCAL_CHAR
    + r"+@[a-zA-Z0-9.-]+\.(?!(?:"
    + "|".join(_EMAIL_BAD_TLDS)
    + r")\b)[a-zA-Z]{2,}"
)
EMAIL_RE = re.compile(EMAIL_PATTERN)

# Tolerant digit-run matcher (reference break_checker.py:991:
# ``\+?\d[\d\s()\-]{6,}\d``). The leading ``\+?\d`` is spelled as an
# alternation with the same try order ('+' then digit first, else a
# digit), so the matches are the same; a pattern that starts with a
# required character lets the regex engine skip ahead to candidate
# positions instead of trying every one.
_PHONE_MID_CHAR = r"[\d\s()\-]"
PHONE_PATTERN = r"(?:\+\d|\d)" + _PHONE_MID_CHAR + r"{6,}\d"
PHONE_RE = re.compile(PHONE_PATTERN)

# The sweeps run these patterns only where a match can be. They map
# the text to one class byte per character (email) or per UTF-8 byte
# (phone) with ``bytes.translate`` and find candidate places with a
# search that starts with a literal byte, which the regex engine scans
# for far faster than a character class.


def _class_bytes(classify) -> bytes:
    return bytes(ord(classify(b)) for b in range(256))


# Email, over ``encode("ascii", "replace")`` (one byte per character,
# '?' for a non-ASCII one): 'l' for a character of the local part's
# class, '.' for any other; no non-ASCII character is in that class.
_EMAIL_LOCAL_CLASS = _class_bytes(
    lambda b: "l" if re.fullmatch(_EMAIL_LOCAL_CHAR, chr(b)) else "."
)

_PHONE_CHAR = re.compile(_PHONE_MID_CHAR)


def _phone_byte_class(b: int) -> str:
    """Class of a UTF-8 byte for the phone sweep: 'd' an ASCII digit, or
    the lead byte of a sequence that may encode a non-ASCII ``\\d`` or
    ``\\s`` character; 's' any other ASCII character of the pattern's
    middle class, or a continuation byte; '+' itself; 'x' the lead byte
    of a sequence whose characters are none of these; '.' any other
    ASCII character. So a match lies within one run of class bytes
    without a '.', and its bytes from its first digit's lead byte to its
    last digit's lead byte read ``d[ds]{6,}d``."""
    if b < 0x80:
        c = chr(b)
        if re.fullmatch(r"\d", c):
            return "d"
        return "s" if _PHONE_CHAR.fullmatch(c) else "+" if c == "+" else "."
    if b < 0xC0:
        return "s"
    if b < 0xC2 or b >= 0xF0:  # 4-byte sequences (or none): taken as possible
        return "d"
    lo, n = ((b & 0x1F) << 6, 64) if b < 0xE0 else ((b & 0x0F) << 12, 4096)
    return "d" if any(_PHONE_CHAR.match(chr(c)) for c in range(lo, lo + n)) else "x"


_PHONE_BYTE_CLASS = _class_bytes(_phone_byte_class)
_PHONE_HINT = re.compile(rb"d[ds]{6,}d")

# ------------------------------------------------------- region guessing

# ccTLD → default phone region (reference break_checker.py:994-1000).
TLD_REGION = {
    "gr": "GR", "us": "US", "uk": "GB", "gb": "GB", "de": "DE", "fr": "FR",
    "it": "IT", "es": "ES", "pt": "PT", "nl": "NL", "be": "BE", "se": "SE",
    "no": "NO", "fi": "FI", "dk": "DK", "pl": "PL", "cz": "CZ", "sk": "SK",
    "hu": "HU", "ro": "RO", "bg": "BG", "at": "AT", "ch": "CH", "ie": "IE",
    "tr": "TR", "ua": "UA", "ru": "RU", "il": "IL", "ca": "CA", "au": "AU",
    "nz": "NZ", "mx": "MX", "br": "BR", "ar": "AR", "cl": "CL", "co": "CO",
    "za": "ZA", "in": "IN", "sg": "SG", "hk": "HK", "tw": "TW", "jp": "JP",
    "kr": "KR", "my": "MY", "id": "ID", "th": "TH", "ph": "PH", "vn": "VN",
}


def region_for_domain(domain: str) -> Optional[str]:
    """Default phone region from a domain's last label.

    Reference break_checker.py:1003-1013.
    """
    return TLD_REGION.get(domain.rsplit(".", 1)[-1].lower())


# ------------------------------------------------------ registered domain

# Embedded multi-label public-suffix subset (tldextract replacement):
# every ICANN multi-label suffix family for the TLDs in TLD_REGION.
# ICANN entries ONLY — the reference constructs tldextract with
# defaults (include_psl_private_domains=False, break_checker.py:1234),
# so private-registry suffixes (github.io, blogspot.com, ...) are NOT
# public suffixes there: registered_domain("user.github.io") must be
# "github.io", exactly as tldextract returns.
_MULTI_SUFFIXES = frozenset(
    """co.uk org.uk ac.uk gov.uk me.uk net.uk ltd.uk plc.uk sch.uk nhs.uk
       com.au net.au org.au edu.au gov.au asn.au id.au
       co.jp ne.jp or.jp ac.jp go.jp ad.jp ed.jp gr.jp lg.jp
       com.br net.br org.br gov.br edu.br adv.br art.br blog.br eco.br
       co.in net.in org.in gen.in firm.in ind.in ac.in edu.in res.in
       gov.in nic.in
       com.gr net.gr org.gr edu.gr gov.gr
       com.mx org.mx net.mx edu.mx gob.mx
       com.ar net.ar org.ar edu.ar gob.ar gov.ar int.ar mil.ar tur.ar
       com.sg net.sg org.sg edu.sg gov.sg per.sg
       com.hk net.hk org.hk edu.hk gov.hk idv.hk
       com.tw net.tw org.tw edu.tw gov.tw idv.tw club.tw game.tw
       co.kr ne.kr or.kr re.kr pe.kr go.kr mil.kr ac.kr hs.kr ms.kr
       es.kr sc.kr kg.kr seoul.kr busan.kr
       co.za net.za org.za gov.za ac.za web.za
       com.tr net.tr org.tr edu.tr gov.tr bel.tr pol.tr av.tr dr.tr k12.tr
       com.cn net.cn org.cn edu.cn gov.cn ac.cn
       com.my net.my org.my edu.my gov.my mil.my name.my
       co.nz net.nz org.nz ac.nz govt.nz school.nz gen.nz geek.nz maori.nz
       com.ph net.ph org.ph edu.ph gov.ph mil.ph
       com.vn net.vn org.vn edu.vn gov.vn int.vn ac.vn biz.vn info.vn
       name.vn pro.vn
       com.co net.co org.co edu.co gov.co mil.co nom.co
       co.il org.il net.il ac.il gov.il muni.il k12.il idf.il
       com.pl net.pl org.pl edu.pl gov.pl info.pl biz.pl waw.pl
       com.ua net.ua org.ua edu.ua gov.ua in.ua
       com.ru net.ru org.ru ac.ru edu.ru gov.ru int.ru
       co.hu org.hu info.hu priv.hu
       co.at or.at ac.at gv.at priv.at
       com.pt edu.pt gov.pt int.pt net.pt org.pt
       com.es nom.es org.es gob.es edu.es
       co.id net.id or.id web.id sch.id ac.id go.id mil.id biz.id my.id
       co.th net.th or.th ac.th go.th in.th mi.th""".split()
)

# ICANN wildcard rules (`*.<parent>`): EVERY direct child label of the
# parent is itself a public suffix (PSL spec, publicsuffix.org/list).
# Embedded subset: the bare-ccTLD wildcards plus the Japanese
# geographic wildcards relevant to the .jp families above.
_WILDCARD_PARENTS = frozenset(
    """bd ck er fk jm kh mm np pg
       kawasaki.jp kitakyushu.jp kobe.jp nagoya.jp sapporo.jp
       sendai.jp yokohama.jp""".split()
)

# ICANN exception rules (`!<name>`): carve-outs from a wildcard — the
# named host is NOT a suffix (its tail is), so it is itself registrable.
_WILDCARD_EXCEPTIONS = frozenset(
    """www.ck
       city.kawasaki.jp city.kitakyushu.jp city.kobe.jp city.nagoya.jp
       city.sapporo.jp city.sendai.jp city.yokohama.jp""".split()
)


# Full ICANN PSL snapshot (breakchecker_spark/data/
# public_suffix_list_icann.dat — the ===ICANN DOMAINS=== section of
# the Mozilla Public Suffix List, MPL 2.0, as shipped by the Debian
# `publicsuffix` package; publicsuffix.org/list). ICANN-only matches
# the reference's tldextract defaults
# (include_psl_private_domains=False, break_checker.py:1234-1237).
# Loaded once per process at import; the embedded subsets above remain
# the documented fallback if the data file is missing.
_PSL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "public_suffix_list_icann.dat",
)


def _read_psl_text() -> "str | None":
    """Load the PSL snapshot via importlib.resources first so it also
    resolves when the package is imported from a ``spark-submit
    --py-files`` zip (zipimport: ``__file__`` points inside the
    archive, so a plain open() would miss and silently degrade every
    executor to the embedded fallback subset). Path-based open remains
    the fallback for source checkouts without package metadata."""
    try:
        from importlib.resources import files

        return (
            files("breakchecker_spark") / "data" / "public_suffix_list_icann.dat"
        ).read_text(encoding="utf-8")
    except Exception:
        pass
    try:
        with open(_PSL_PATH, encoding="utf-8") as fh:
            return fh.read()
    except OSError:
        return None


def _load_psl():
    """→ (exact_rules, wildcard_parents, exception_rules) as frozensets
    of dot-joined label strings, or None if the snapshot is absent."""
    text = _read_psl_text()
    if text is None:
        return None
    lines = text.splitlines()
    exact, wild, exc = set(), set(), set()
    for line in lines:
        rule = line.strip()
        if not rule or rule.startswith("//"):
            continue
        if rule.startswith("!"):
            exc.add(rule[1:])
        elif rule.startswith("*."):
            wild.add(rule[2:])
        else:
            exact.add(rule)
    if not (exact and wild and exc):
        # a truncated/corrupt snapshot that parses but misses a rule
        # category would poison suffix resolution (and an empty-set
        # max() would crash the import) — fall back to the embedded
        # subsets instead (ADVICE r4)
        return None
    return frozenset(exact), frozenset(wild), frozenset(exc)


_psl = _load_psl()
if _psl is not None:
    _EXACT_SUFFIXES, _WILDCARD_PARENTS, _WILDCARD_EXCEPTIONS = _psl
else:  # pragma: no cover - snapshot ships with the package
    _EXACT_SUFFIXES = _MULTI_SUFFIXES

_MAX_EXACT_LABELS = max((s.count(".") for s in _EXACT_SUFFIXES), default=0) + 1
_MAX_WILD_LABELS = max((s.count(".") for s in _WILDCARD_PARENTS), default=0) + 1
_MAX_EXC_LABELS = max((s.count(".") for s in _WILDCARD_EXCEPTIONS), default=0) + 1


def _suffix_labels(labels: list[str]) -> int:
    """Number of trailing labels forming the public suffix (≥1).

    PSL resolution (publicsuffix.org algorithm): exception rules
    prevail outright; otherwise the longest matching rule wins, where
    ``*.parent`` matches any single extra label and every single-label
    tail matches the implicit default rule.
    """
    n = len(labels)
    # exception `!www.ck`: suffix is the exception minus its first label
    for take in range(min(n, _MAX_EXC_LABELS), 0, -1):
        if ".".join(labels[n - take:]) in _WILDCARD_EXCEPTIONS:
            return take - 1
    best = 1  # implicit `*` default rule
    for take in range(min(n, _MAX_EXACT_LABELS), 1, -1):
        if ".".join(labels[n - take:]) in _EXACT_SUFFIXES:
            best = take
            break
    # wildcard `*.ck`: <anything>.<parent> is a suffix
    for plen in range(min(n - 1, _MAX_WILD_LABELS), 0, -1):
        if plen + 1 > best and ".".join(labels[n - plen:]) in _WILDCARD_PARENTS:
            best = plen + 1
            break
    return best


def registered_domain(hostname: str) -> str:
    """Organization-level domain: eTLD+1 under an embedded PSL subset.

    ``mail.sub.example.co.uk`` → ``example.co.uk``;
    ``a.b.example.com`` → ``example.com``;
    ``user.github.io`` → ``github.io`` (private registries are not
    suffixes — tldextract defaults, break_checker.py:1234-1237);
    ``foo.bar.ck`` → ``foo.bar.ck`` (wildcard ``*.ck``);
    ``sub.www.ck`` → ``www.ck`` (exception ``!www.ck``).
    Empty string when the host has no label under its public suffix
    (tldextract's ``top_domain_under_public_suffix`` returns "").
    """
    labels = hostname.lower().strip(".").split(".")
    ns = _suffix_labels(labels)
    if len(labels) <= ns:
        return ""
    return ".".join(labels[-(ns + 1):])


# ------------------------------------------------------------ email side

_LOCAL_OK = re.compile(r"^[A-Za-z0-9!#$%&'*+/=?^_`{|}~.\-]+$")
_LABEL_OK = re.compile(r"^[A-Za-z0-9]([A-Za-z0-9\-]*[A-Za-z0-9])?$")


def _is_valid_email(addr: str) -> bool:
    """RFC-lite syntactic validation (email_validator replacement).

    Checks: single ``@``; local part ≤64 chars of atext/dots without
    leading/trailing/double dots; domain ≤253 chars of valid labels with
    an alphabetic TLD of ≥2 chars; total ≤254.
    """
    if len(addr) > 254 or addr.count("@") != 1:
        return False
    local, domain = addr.rsplit("@", 1)
    if not local or len(local) > 64 or not _LOCAL_OK.match(local):
        return False
    if local.startswith(".") or local.endswith(".") or ".." in local:
        return False
    if not domain or len(domain) > 253 or "." not in domain:
        return False
    labels = domain.split(".")
    if any(not lbl or len(lbl) > 63 or not _LABEL_OK.match(lbl) for lbl in labels):
        return False
    return len(labels[-1]) >= 2 and labels[-1].isalpha()


def normalize_email(raw: str) -> Optional[str]:
    """Unquote → strip wrappers → norm_text → lowercase → validate.

    Returns the canonical lower-case address or None
    (reference break_checker.py:1089-1105; deliverability pinned off).
    """
    candidate = strip_edge_punct(norm_text(unquote(raw.strip()))).lower()
    return candidate if _is_valid_email(candidate) else None


def email_org(canonical_email: str) -> str:
    """Registered domain of a canonical email's domain part.

    Reference break_checker.py:1259-1264.
    """
    return registered_domain(canonical_email.rsplit("@", 1)[-1])


# ------------------------------------------------------------ phone side

# Mini phone metadata: region → (calling code, allowed national-number
# lengths, national format keeps trunk '0'?, NSN leading-digit pattern
# or None). Stdlib replacement for libphonenumber, covering the
# reference's TLD-region map. Lengths are the common national
# significant number (NSN) lengths per ITU plans; the leading-digit
# patterns (top-traffic regions) reject prefix-invalid numbers that a
# bare length check would accept — e.g. a NANP number whose area code
# starts with 0/1, or a 9-digit Greek string that is neither geo (2…)
# nor mobile (69…). Patterns match the trunk-stripped NSN (for IT the
# NSN keeps its significant leading 0).
_PHONE_META = {
    # NANP: area code and exchange each start 2-9
    "US": ("1", {10}, False, r"[2-9]\d{2}[2-9]\d{6}"),
    "CA": ("1", {10}, False, r"[2-9]\d{2}[2-9]\d{6}"),
    # GB: geo 1x/2x (10), corporate 5x, mobile 7x (10), freephone 80x
    # (9-10), premium 9x; NSN never starts 0
    "GB": ("44", {9, 10}, True, r"[1-9]\d{8,9}"),
    "DE": ("49", {6, 7, 8, 9, 10, 11}, True, r"[1-9]\d{5,10}"),
    "FR": ("33", {9}, True, r"[1-9]\d{8}"),
    # IT: trunk 0 is significant (geo 0…, mobile 3…, services 8…)
    "IT": ("39", {8, 9, 10, 11}, False, r"(?:0\d{7,10}|3\d{8,9}|8\d{7,9})"),
    # ES: mobile 6/7, geo 8/9
    "ES": ("34", {9}, False, r"[6-9]\d{8}"),
    "PT": ("351", {9}, False, r"[2-9]\d{8}"),
    "NL": ("31", {9}, True, r"[1-9]\d{8}"),
    "BE": ("32", {8, 9}, True, None),
    "SE": ("46", {7, 8, 9, 10}, True, None),
    "NO": ("47", {8}, False, None),
    "FI": ("358", {6, 7, 8, 9, 10}, True, None),
    "DK": ("45", {8}, False, None),
    "PL": ("48", {9}, False, None),
    "CZ": ("420", {9}, False, None),
    "SK": ("421", {9}, True, None),
    "HU": ("36", {8, 9}, False, None),
    "RO": ("40", {9}, True, None),
    "BG": ("359", {7, 8, 9}, True, None),
    "AT": ("43", {7, 8, 9, 10, 11}, True, None),
    "CH": ("41", {9}, True, None),
    "IE": ("353", {7, 8, 9}, True, None),
    "TR": ("90", {10}, True, None),
    "UA": ("380", {9}, True, None),
    "RU": ("7", {10}, False, None),
    "IL": ("972", {8, 9}, True, None),
    # AU: geo 2/3/7/8, mobile 4
    "AU": ("61", {9}, True, r"[23478]\d{8}"),
    "NZ": ("64", {8, 9, 10}, True, None),
    "MX": ("52", {10}, False, None),
    "BR": ("55", {10, 11}, False, None),
    "AR": ("54", {10}, False, None),
    "CL": ("56", {9}, False, None),
    "CO": ("57", {10}, False, None),
    "ZA": ("27", {9}, True, None),
    # IN: 10-digit numbers start 6-9 (mobile) — geo written with STD
    # codes resolve through the same set after trunk strip
    "IN": ("91", {10}, False, r"[1-9]\d{9}"),
    "SG": ("65", {8}, False, None),
    "HK": ("852", {8}, False, None),
    "TW": ("886", {8, 9}, True, None),
    "JP": ("81", {9, 10}, True, None),
    "KR": ("82", {8, 9, 10}, True, None),
    "MY": ("60", {8, 9, 10}, True, None),
    "ID": ("62", {8, 9, 10, 11}, True, None),
    "TH": ("66", {8, 9}, True, None),
    "PH": ("63", {8, 9, 10}, True, None),
    "VN": ("84", {9, 10}, True, None),
    # GR: geo 2…, mobile 69…, services 8…/9… — all 10 digits
    "GR": ("30", {10}, False, r"(?:2\d{9}|69\d{8}|[89]\d{9})"),
}
# Longest-prefix lookup: calling code → region (first region wins for
# shared codes, e.g. +1 → US).
_CC_REGION: dict = {}
for _region, (_cc, _lens, _trunk, _pat) in _PHONE_META.items():
    _CC_REGION.setdefault(_cc, _region)
_CC_BY_LENGTH = sorted(_CC_REGION, key=len, reverse=True)
_NSN_PATTERNS = {
    region: re.compile(rf"^(?:{pat})$")
    for region, (_c, _l, _t, pat) in _PHONE_META.items()
    if pat is not None
}

_NON_DIGIT = re.compile(r"\D")
_PHONE_CHARS_OK = re.compile(r"^\+?[\d\s().\-]+$")


def _national_digits(region: str, nsn: str) -> Optional[str]:
    """Digits-only national form when nsn is valid for the region."""
    cc, lengths, trunk, _pat = _PHONE_META[region]
    if len(nsn) not in lengths:
        return None
    pattern = _NSN_PATTERNS.get(region)
    if pattern is not None and not pattern.match(nsn):
        return None
    digits = ("0" + nsn) if trunk else nsn
    return digits if len(digits) >= 7 else None


def normalize_phone(raw: str, default_region: Optional[str] = None) -> Optional[str]:
    """Normalize to digits-only national format; None when invalid.

    Mirrors the reference's try-order (break_checker.py:1108-1134):
    ``+``-prefixed input parses as E.164 first, then falls back to the
    region hint; other input requires the region hint. Validation is
    the embedded metadata table (see module docstring deviation note).
    """
    raw = raw.strip()
    if not raw or not _PHONE_CHARS_OK.match(raw):
        return None
    has_plus = raw.startswith("+")
    digits = _NON_DIGIT.sub("", raw)
    if not digits:
        return None

    attempts = []
    if has_plus:
        attempts.append("E164")
        if default_region:
            attempts.append(default_region)
    elif default_region:
        attempts.append(default_region)

    for attempt in attempts:
        if attempt == "E164":
            for cc in _CC_BY_LENGTH:
                if digits.startswith(cc):
                    out = _national_digits(_CC_REGION[cc], digits[len(cc):])
                    if out:
                        return out
        else:
            meta = _PHONE_META.get(attempt)
            if meta is None:
                continue
            cc, lengths, trunk, _pat = meta
            nsn = digits
            # National dialing usually writes the trunk prefix; strip it
            # before length validation (e.g. GB 020... → NSN 20...).
            if trunk and nsn.startswith("0"):
                nsn = nsn.lstrip("0") if len(nsn.lstrip("0")) in lengths else nsn[1:]
            out = _national_digits(attempt, nsn)
            if out:
                return out
    return None


# ------------------------------------------------------- mailto: / tel:

_LIST_SPLIT = re.compile(r"[;,]")


def mailto_addresses(href: str) -> List[str]:
    """Addresses from a ``mailto:`` href, incl. ``?to=/cc=/bcc=`` lists.

    Reference break_checker.py:1137-1170. Returns raw (unvalidated)
    candidates; may be empty.
    """
    out: List[str] = []
    h = href.strip()
    if not h.lower().startswith("mailto:"):
        return out
    rest = h.split(":", 1)[1]
    if rest.startswith("//"):
        rest = rest.lstrip("/")
    addresses, _, query = rest.partition("?")
    addresses = trim_angle_brackets(unquote(addresses)).strip()
    if addresses:
        out.extend(_LIST_SPLIT.split(addresses))
    if query:
        try:
            params = parse_qs(query)
        except Exception:
            params = {}
        for key in ("to", "cc", "bcc"):
            for item in params.get(key, []):
                out.extend(_LIST_SPLIT.split(unquote(item)))
    return [a.strip() for a in out if a and a.strip()]


def tel_numbers(href: str) -> List[str]:
    """Phone candidate from a ``tel:`` href (query stripped).

    Reference break_checker.py:1173-1196.
    """
    h = href.strip()
    if not h.lower().startswith("tel:"):
        return []
    rest = h.split(":", 1)[1]
    if rest.startswith("//"):
        rest = rest.lstrip("/")
    number, _, _ = rest.partition("?")
    return [unquote(number.strip())]


# ----------------------------------------------------------- extraction


def extract_emails(text: str) -> List[str]:
    """All raw email candidates in normalized text (order of appearance):
    ``EMAIL_RE.findall(text)``.

    Every match holds one '@', right after a run of local-part
    characters. Whether a match through a given '@' exists does not
    depend on where in that run it starts, so findall's match is the
    one from the run's first character at or after the previous
    match's end, or there is none through that '@'.
    """
    at = text.find("@")
    if at < 0:
        return []
    cls = text.encode("ascii", "replace").translate(_EMAIL_LOCAL_CLASS)
    out: List[str] = []
    end = 0
    while at >= 0:
        start = max(end, cls.rfind(b".", 0, at) + 1)
        m = EMAIL_RE.match(text, start) if start < at else None
        if m:
            out.append(m.group())
            end = m.end()
        at = text.find("@", max(end, at + 1))
    return out


def extract_phones(text: str) -> List[str]:
    """All raw phone candidates in normalized text (order of appearance):
    ``PHONE_RE.findall(text)``.

    A match uses only characters of ``[\\d\\s()\\-+]`` and the pattern
    has no lookaround, so findall over the text is findall over each of
    its runs between ASCII characters outside that set. Runs whose class
    bytes (:func:`_phone_byte_class`) hold no ``d[ds]{6,}d`` hold no
    match and are skipped.
    """
    raw = text.encode("utf-8", "surrogatepass")
    cls = raw.translate(_PHONE_BYTE_CLASS)
    out: List[str] = []
    hit = _PHONE_HINT.search(cls)
    while hit:
        a = cls.rfind(b".", 0, hit.start()) + 1
        b = cls.find(b".", hit.end())
        if b < 0:
            b = len(cls)
        out += PHONE_RE.findall(raw[a:b].decode("utf-8", "surrogatepass"))
        hit = _PHONE_HINT.search(cls, b)
    return out
