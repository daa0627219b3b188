"""Deterministic HTML → text extraction kernel.

Reference semantics: ``get_clean_text(element) =
''.join(element.itertext()).strip()`` — concatenate ALL descendant text
nodes with NO separators, then strip the ends
(/root/reference/data_collection/cwe_collection.py:71-74). The web-page
analog adds two rules the reference applies at scrape time via
BeautifulSoup (/root/reference/data_collection/cwe_collection.py:23-36):
markup is not text, and ``<script>``/``<style>`` payloads are code, not
prose.

This extractor is stdlib-only (``html.parser``) so the byte-level output
cannot drift with bs4/lxml versions (SURVEY.md §7.3 risk 1). Entity and
character references are decoded by the parser (``convert_charrefs=True``),
matching ``itertext()``'s decoded view of the DOM.

Rules, exactly:
1. All character data outside <script>/<style> subtrees is concatenated in
   document order with no inserted separators.
2. Entity/char refs decode to their code points (&amp; → &, &#x2019; → ’).
3. CDATA-ish declarations and comments contribute nothing.
4. The final string is ``.strip()``-ped (ends only — interior whitespace
   runs are preserved verbatim, as ``itertext`` preserves them).
"""


from __future__ import annotations

import hashlib
import re
from html import parser as _hp
from html import unescape as _unescape

_SKIP_TAGS = ("script", "style")


class _TextExtractor(_hp.HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    @staticmethod
    def _local(tag: str) -> str:
        # namespace-qualified tags (<xhtml:p>) compare on the local name
        return tag.rsplit(":", 1)[-1]

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._local(tag) in _SKIP_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if self._local(tag) in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._chunks.append(data)

    def text(self) -> str:
        return "".join(self._chunks).strip()


# ---------------------------------------------------------------------------
# Fast path: split once, verify the markup with one match per page.
# ``html.parser`` (and a scanner that mirrors it construct by construct)
# spends a Python step on every tag, ~2800 on a bench page. Here one
# C-level ``re.split`` cuts the page into data runs and markup, and one
# more C-level ``fullmatch`` over the page's joined start tags proves that
# the parser ignores every one of them, so no Python step runs per tag and
# nothing is kept between pages. The structural-index-first,
# verify-second split is simdjson's (Langdale & Lemire, VLDB J. 2019).
# Equivalence with the parser (convert_charrefs=True) rests on:
# - data: the parser passes rawdata[i : find('<', i)] through
#   ``html.unescape``; the split's data runs are exactly those runs, so
#   they are unescaped one by one, never joined first (``&am<b></b>p;``
#   stays literal). A '<' the split leaves in a data run is a lone '<'
#   (the parser emits it as data and unescapes the text on each side
#   apart) when no letter, '/', '!' or '?' follows it; any other '<' there
#   is a construct the split did not match (marked section, unterminated
#   tag, declaration or PI): fall back.
# - start tags: the split takes '<' letter ... up to the first '>'.
#   ``_PLAIN`` admits a tag only if its quoted values close before that
#   '>' and every name, separator and bare value stops where the parser's
#   ``tagfind_tolerant``, ``attrfind_tolerant`` and
#   ``locatestarttagend_tolerant`` stop, so the parser sees the same
#   extent, consumes every attribute and meets '>' or '/>': the tag is
#   ignored unless its local name is script/style, which ``_PLAIN``
#   excludes. Any other start tag (a namespaced script/style, odd
#   attribute syntax) sends the page to the parser.
# - <script>/<style>: an opener matching ``_CDATA_OPEN`` (same grammar,
#   ending in '>' and not '/>') puts the parser in cdata mode, which ends
#   at ``</\s*tag\s*>`` (re.I). A non-ASCII case variant of that end tag
#   fails ``endtagfind`` and the parser keeps scanning, so the split's
#   ASCII-only end pattern finds the end the parser acts on; with no end
#   tag the block runs to the end of the page, which the parser drops.
# - end tags: outside cdata mode the parser consumes '</' up to the first
#   '>' and emits nothing, whichever of its end-tag, '</>' and bogus
#   comment cases applies; the skip depth is always 0 outside a block
#   here, so an end tag changes nothing.
# - comments end at the first ``--\s*>`` after '<!--' (from one with no
#   end the page is a tail, which ``_TAIL`` splits); <!doctype ...>, bogus
#   comments and PIs end at the first '>': exactly the parser's
#   terminated cases, none of which emits data.
# Every branch stops at the next '<' or runs to the end of the page once,
# so the split is linear whatever the page holds.


def _ci(name: str) -> str:
    return "".join(f"[{c}{c.upper()}]" for c in name)


_ATTRS = (r"(?:[ \t\n\r\f]+[^\s/>'\"=<][^\s/=><'\"]*"
          r"(?:[ \t\n\r\f]*=[ \t\n\r\f]*"
          r"(?:'[^'<>]*'|\"[^\"<>]*\"|[^\s<>'\"][^\s<>]*))?)*")
_PLAIN = (r"(?!(?:[a-zA-Z0-9_.-]*:)*(?:" + _ci("script") + "|"
          + _ci("style") + r")[ \t\n\r\f/>])"
          r"[a-zA-Z][a-zA-Z0-9_.-]*(?::[a-zA-Z0-9_.-]*)*"
          + _ATTRS + r"[ \t\n\r\f]*/?>")
_PLAIN_TAGS = re.compile(f"(?:{_PLAIN})*")
_CDATA_OPEN = {name: re.compile(f"(?:{_ci(name)}{_ATTRS}[ \\t\\n\\r\\f]*>)*")
               for name in _SKIP_TAGS}


def _block(name: str) -> str:
    """A <name ...> opener (the parser's tag name is exactly ``name``,
    any ASCII case), then everything up to its cdata end tag or the end
    of the page."""
    ci = _ci(name)
    return (rf"({ci}(?![^\t\n\r\f />\x00])[^<>]*>)"
            rf"(?s:.*?)(?:</\s*{ci}\s*>|\Z)")


def _split_re(comment: str) -> re.Pattern:
    """The page split, with ``comment`` as its '<!--' branch. Every branch
    follows one literal '<', which lets the regex engine skip to the next
    '<' at C speed; the groups (script opener, style opener, start tag,
    the comment group) capture the markup after that '<'. End tags,
    declarations and PIs match without a group."""
    return re.compile(
        "<(?:" + _block("script") + "|" + _block("style")
        + r"|([a-zA-Z][^<>]*>)"
        r"|/[^<>]*>"
        r"|" + comment
        + r"|!(?!--|\[)[^<>]*>"
        r"|\?[^<>]*>)")


# a comment ends at the first '--\s*>'; one with no end captures the rest
# of the page, which is then the tail below
_MARKUP = _split_re(r"!--(?:(?s:.*?)--\s*>|((?s:.*)))")
# After an unterminated comment at i no later '<!--' can close (its end
# would close the first one too), so the parser's goahead(end=True) meets
# each as unterminated: it emits unescape(rawdata[i:k]) as data, k past
# the next '>' after i+1, else at the next '<', else i+1, and goes on at
# k. The tail split captures that data up to the next '>' without
# rescanning for '-->'. Past the tail's last '>' no comment, end tag,
# declaration or PI can end, so there each such opener's data runs to the
# next '<' (the last one's, from i+1 on, to the end): that stretch is
# emitted as unescape(stretch) unless a start tag or a marked section,
# which the parser reads further, sends the page to it.
_TAIL = _split_re(r"(!--[^>]*>)")
_STRIDE = 5  # a data run, then the four groups of one match
_NOT_LONE = re.compile(r"<[a-zA-Z/!?]")
_NOT_DATA = re.compile(r"<(?:[a-zA-Z]|!\[)")

_FALLBACK = object()


def _joined(parts: list, slot: int) -> str:
    """The distinct captures of one group, concatenated: each ends at its
    only '>', so a grammar repeated with ``fullmatch`` checks each one."""
    distinct = set(parts[slot::_STRIDE])
    distinct.discard(None)
    return "".join(distinct)


def _verified_runs(parts: list):
    """The unescaped data runs of one split, or ``_FALLBACK`` when a tag
    or a '<' left in a data run needs the parser."""
    if (_PLAIN_TAGS.fullmatch(_joined(parts, 3)) is None
            or _CDATA_OPEN["script"].fullmatch(_joined(parts, 1)) is None
            or _CDATA_OPEN["style"].fullmatch(_joined(parts, 2)) is None):
        return _FALLBACK
    data = parts[::_STRIDE]
    if "<" not in "".join(data):
        return list(map(_unescape, data))
    if any(_NOT_LONE.search(run) for run in data):
        return _FALLBACK
    return ["<".join(map(_unescape, run.split("<"))) for run in data]


def _tail_text(tail: str):
    """The text of ``tail``, which starts at the page's first
    unterminated '<!--', as goahead(end=True) emits it."""
    g = tail.rfind(">") + 1
    rest = tail[g:]
    if _NOT_DATA.search(rest):
        return _FALLBACK
    if not g:
        return _unescape(rest)
    k = tail.index(">") + 1
    parts = _TAIL.split(tail[k:g])
    if rest and not parts[-1] and len(parts) > 1 and (
            parts[-5] is not None or parts[-4] is not None):
        return _FALLBACK  # a script/style block may run on over rest
    runs = _verified_runs(parts)
    if runs is _FALLBACK:
        return _FALLBACK
    pieces = [_unescape("<" + p) if p else "" for p in parts[4::_STRIDE]]
    return _unescape(tail[:k]) + "".join(
        r + p for r, p in zip(runs, pieces + [""])) + _unescape(rest)


def _fast_extract(html: str):
    """Split-and-verify twin of ``_TextExtractor``; returns the stripped
    text or ``_FALLBACK`` when the input needs the real parser."""
    parts = _MARKUP.split(html)
    rest = parts[-2] if len(parts) > 1 else None
    if rest is not None:  # the last match is an unterminated comment
        parts = parts[:-_STRIDE]
    runs = _verified_runs(parts)
    if runs is _FALLBACK:
        return _FALLBACK
    text = "".join(runs)
    if rest is not None:
        tail = _tail_text("<!--" + rest)
        if tail is _FALLBACK:
            return _FALLBACK
        text += tail
    return text.strip()


def extract_text(html: bytes | str | None) -> str | None:
    """Extract visible text from an HTML document, deterministically.

    ``None`` in → ``None`` out (null ⇒ no triple downstream, the RML rule
    P7, SURVEY.md §2.2). Bytes are decoded UTF-8 with replacement — the
    decode must itself be deterministic for byte-identity.
    """
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    fast = _fast_extract(html)
    if fast is not _FALLBACK:
        return fast
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.text()



def xml_clean_text(parts: list[str | None]) -> str | None:
    """The reference's ``get_clean_text`` join semantics over pre-split text
    nodes: no-separator join then strip
    (/root/reference/data_collection/cwe_collection.py:71-74)."""
    if parts is None:
        return None
    return "".join(x for x in parts if x).strip()


def text_sha256(text: str | None) -> str | None:
    if text is None:
        return None
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
