"""Golden mention detector: the straightforward scans the kernel must equal.

``kernel.ids`` runs its matchers only at candidate starts found by literal
search (prefilter, then verify). This module keeps the plain scans that
the prefiltered kernel replaced, so the oracle computes mentions
independently of it and a kernel change cannot move both sides of a
parity check at once:

- ``scan_ids``: ``finditer`` of the boundary-guarded id alternation over
  the whole text;
- ``AliasMatcher.find``: normalize the whole text (casefold, collapse
  whitespace runs), then needle-prefilter and anchored-match the
  longest-first alias alternation over the normalized string.

Only the id grammar strings (``CVE_RE`` …) are shared with the kernel;
``tests/test_detect_kernel.py`` keeps it that way.
"""

from __future__ import annotations

import re

from ..kernel.ids import ATTACK_RE, CAPEC_RE, CPE_RE, CVE_RE, CWE_RE, D3FEND_RE

# scanner with boundary guards; longest-first alternation so T1059.003
# beats T1059 and CVE before CWE ordering never matters (disjoint prefixes)
_SCAN_RE = re.compile(
    r"(?<![A-Za-z0-9.-])"
    r"(?P<id>"
    + "|".join([CPE_RE, CVE_RE, CWE_RE, CAPEC_RE, D3FEND_RE, ATTACK_RE])
    + r")(?![A-Za-z0-9])(?!\.\d)"
)

_KIND_VALIDATORS = [
    ("cpe", re.compile(CPE_RE + r"\Z")),
    ("cve", re.compile(CVE_RE + r"\Z")),
    ("cwe", re.compile(CWE_RE + r"\Z")),
    ("capec", re.compile(CAPEC_RE + r"\Z")),
    ("d3fend", re.compile(D3FEND_RE + r"\Z")),
    ("attack", re.compile(ATTACK_RE + r"\Z")),
]


def classify_id(token: str) -> str | None:
    for kind, rx in _KIND_VALIDATORS:
        if rx.match(token):
            return kind
    return None


def scan_ids(text: str | None) -> list[tuple[str, str, int]]:
    """[(kind, id, char_offset)] for every well-formed identifier, in
    document order, overlaps resolved longest-match by the alternation."""
    if not text:
        return []
    out: list[tuple[str, str, int]] = []
    for m in _SCAN_RE.finditer(text):
        tok = m.group("id")
        kind = classify_id(tok)
        if kind is not None:
            out.append((kind, tok, m.start("id")))
    return out


def normalize_surface(s: str) -> str:
    """casefold + collapse whitespace runs to single spaces."""
    return " ".join(s.casefold().split())


class AliasMatcher:
    """Whole-word alias matcher: ``find(text)`` returns [(surface_form,
    char_offset)] over the normalized text, leftmost-longest and
    non-overlapping."""

    def __init__(self, patterns: list[str]):
        norm_patterns = sorted(
            {normalize_surface(p) for p in patterns if normalize_surface(p)},
            key=lambda s: (-len(s), s),
        )
        body = "|".join(re.escape(p) for p in norm_patterns)
        # anchored longest-first alternation + trailing boundary; the
        # leading boundary is checked explicitly at the candidate position
        self._match_re = re.compile(
            r"(?:" + body + r")(?![a-z0-9._])"
        ) if norm_patterns else re.compile(r"(?!)")
        # candidate needles: a true match at position i implies
        # norm[i:i+len(needle)] equals some pattern's prefix, so str.find
        # over the needles yields a superset of match starts. Keep only
        # needles that are not extensions of another.
        self._needles: list[str] = []
        prefixes = sorted({p[: min(len(p), 6)] for p in norm_patterns})
        for nd in prefixes:
            if not any(nd != o and nd.startswith(o) for o in prefixes):
                self._needles.append(nd)

    def find(self, text: str) -> list[tuple[str, int]]:
        norm = normalize_surface(text)
        starts: set[int] = set()
        find = norm.find
        for nd in self._needles:
            i = find(nd)
            while i != -1:
                starts.add(i)
                i = find(nd, i + 1)
        if not starts:
            return []
        out: list[tuple[str, int]] = []
        end = -1
        match = self._match_re.match
        for pos in sorted(starts):
            if pos <= end:
                continue  # inside the previous match (non-overlap)
            if pos > 0 and _is_word_char_lc(norm[pos - 1]):
                continue  # leading boundary
            m = match(norm, pos)
            if m:
                out.append((m.group(0), pos))
                end = pos + len(m.group(0)) - 1
        return out


def _is_word_char_lc(ch: str) -> bool:
    # boundary class [a-z0-9._] over the already-casefolded text
    return ("a" <= ch <= "z") or ("0" <= ch <= "9") or ch in "._"
