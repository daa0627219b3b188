"""Golden HTML text extractor: ``html.parser`` itself, which the kernel
must equal.

``kernel.extract`` splits a page once into data runs and markup and
falls back to the parser for anything it cannot prove identical. This
module is that parser-driven extractor alone, with no fast path, so the
oracle extracts text independently of the kernel and a kernel change
cannot move both sides of a parity check at once. It imports nothing
from ``kernel.extract``; ``tests/test_fast_extract.py`` keeps it that way.

Rules: character data outside <script>/<style> subtrees, entity- and
character-reference decoded (``convert_charrefs=True``), concatenated in
document order with no separators, then stripped at the ends.
"""

from __future__ import annotations

from html.parser import HTMLParser

_SKIP_TAGS = ("script", "style")


class _TextExtractor(HTMLParser):
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
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.text()
