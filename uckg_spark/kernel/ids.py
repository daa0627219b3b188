"""Identifier gazetteers + a pure-Python Aho–Corasick automaton.

Regex shapes are inferred from the id formats the reference manipulates:
- CVE ``CVE-\\d{4}-\\d{4,}`` — ids built/compared at
  /root/reference/data_collection/cve_collection.py:388-389, 431-433
- CWE ``CWE-\\d+`` — prefixing at
  /root/reference/data_collection/cwe_collection.py:126 and
  /root/reference/data_collection/cve_collection.py:245
- CAPEC ``CAPEC-\\d+`` — /root/reference/parse.py:315-316
- ATT&CK technique ``T\\d{4}(\\.\\d{3})?`` — /root/reference/parse.py:428
- CPE 2.3 names — template at /root/reference/mapping/cve/cve_rml.ttl:155
  and the paper's Table IV.

Word-boundary discipline: a match must not be embedded in a longer
alphanumeric/dash run — ``CVE-123`` must NOT match (4-digit year missing)
and ``XCVE-2024-1234`` / ``CVE-2024-12345Z`` must not match either
(FIXTURES.md decoy spec).
"""

from __future__ import annotations

import re
from collections import deque

# fullmatch-able core patterns (validators)
CVE_RE = r"CVE-\d{4}-\d{4,}"
CWE_RE = r"CWE-\d+"
CAPEC_RE = r"CAPEC-\d+"
# ATT&CK ids cover ALL entity kinds (techniques T/sub-techniques T.x,
# tactics TA, groups G, software S, mitigations M, campaigns C — the id
# grammar at attack.mitre.org; parse.py:124 ingests every kind): TA before
# T so TA0040 isn't read as a 2-char-short technique
ATTACK_RE = r"(?:TA\d{4}|T\d{4}(?:\.\d{3})?|[GSMC]\d{4})"
# D3FEND technique ids, e.g. D3-FAPA (d3fend_collection.py:66-89 ingests
# d3f:d3fend-id values of this shape)
D3FEND_RE = r"D3-[A-Z][A-Z0-9]*"
# cpe:2.3:<part a|h|o>:vendor:product:version:update:edition:lang:sw_edition
#   :target_sw:target_hw:other  — 11 colon-separated components after "2.3"
CPE_RE = r"cpe:2\.3:[aho](?::[^\s:]+){10}"

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
    """Return [(kind, id, char_offset)] for every well-formed identifier.

    Deterministic: document order, overlaps resolved longest-match by the
    alternation order above.
    """
    if not text:
        return []
    out: list[tuple[str, str, int]] = []
    for m in _SCAN_RE.finditer(text):
        tok = m.group("id")
        kind = classify_id(tok)
        if kind is not None:
            out.append((kind, tok, m.start("id")))
    return out


# ---------------------------------------------------------------------------
# prefixers (F4, SURVEY.md §2.7)
# ---------------------------------------------------------------------------


def cwe_prefix(raw_id: str) -> str:
    """``"CWE-" + str(id)`` then strip
    (/root/reference/data_collection/cwe_collection.py:126,
    /root/reference/data_collection/cve_collection.py:245-246)."""
    return ("CWE-" + str(raw_id)).strip()


# ---------------------------------------------------------------------------
# Aho–Corasick automaton for dictionary surface forms (vendor/product
# strings, ATT&CK technique names). Pure Python, built once on the driver,
# broadcast to executors; matching runs inside mapInPandas batches.
# ---------------------------------------------------------------------------


def normalize_surface(s: str) -> str:
    """Normalization applied to both dictionary entries and scanned text:
    casefold + collapse whitespace runs to single spaces. Deterministic and
    locale-independent."""
    return " ".join(s.casefold().split())


class AhoCorasick:
    """Multi-pattern whole-word matcher. ``find(text)`` returns
    [(surface_form, char_offset)] over the normalized text in document
    order.

    Two engines, ONE semantics (equivalence is tested on the fixture
    corpus, tests/test_kernel.py):
    - ≤ ``_REGEX_MAX_PATTERNS`` patterns: a compiled longest-first
      alternation — C speed, the fixture/bench path.
    - above that: the classic trie + failure-link automaton — O(text)
      regardless of dictionary size, the production path for ~1.3M CPE
      vendor/product strings. Built once on the driver, shipped via a
      Spark broadcast.

    The fast path assumes patterns are not nested within one another
    (true for vendor-product alias tables); the trie path reports nested
    matches too.
    """

    _REGEX_MAX_PATTERNS = 2000

    def __init__(self, patterns: list[str]):
        norm_patterns = sorted(
            {normalize_surface(p) for p in patterns if normalize_surface(p)},
            key=lambda s: (-len(s), s),
        )
        self._regex = None
        self._match_re = None
        self._needles: list[str] = []
        if len(norm_patterns) <= self._REGEX_MAX_PATTERNS:
            body = "|".join(re.escape(p) for p in norm_patterns)
            # boundary class matches _is_word_char below
            self._regex = re.compile(
                r"(?<![a-z0-9._])(?:" + body + r")(?![a-z0-9._])"
            ) if norm_patterns else re.compile(r"(?!)")
            # anchored variant for the needle-prefiltered scan: same
            # longest-first alternation + trailing boundary; the leading
            # boundary is checked explicitly at the candidate position
            self._match_re = re.compile(
                r"(?:" + body + r")(?![a-z0-9._])"
            ) if norm_patterns else re.compile(r"(?!)")
            # candidate needles: a true match at position i implies
            # norm[i:i+len(needle)] equals some pattern's prefix, so
            # C-speed str.find over the needles yields a superset of match
            # starts. Keep only needles that are not extensions of another
            # (a prefix needle's hit set covers its extensions').
            prefixes = sorted({p[: min(len(p), 6)] for p in norm_patterns})
            for nd in prefixes:
                if not any(nd != o and nd.startswith(o) for o in prefixes):
                    self._needles.append(nd)
        self._build_trie(patterns)

    def _build_trie(self, patterns: list[str]):
        # nodes: list of dicts char->node_id
        self._next: list[dict[str, int]] = [{}]
        self._fail: list[int] = [0]
        self._out: list[list[str]] = [[]]
        # dedup on NORMALIZED form — distinct raw styles ("ACMESOFT webgate",
        # "Acmesoft Webgate") collapse to one pattern
        for norm in sorted({normalize_surface(p) for p in patterns}):
            if not norm:
                continue
            node = 0
            for ch in norm:
                nxt = self._next[node].get(ch)
                if nxt is None:
                    nxt = len(self._next)
                    self._next.append({})
                    self._fail.append(0)
                    self._out.append([])
                    self._next[node][ch] = nxt
                node = nxt
            self._out[node].append(norm)
        # BFS failure links
        q: deque[int] = deque()
        for ch, nxt in self._next[0].items():
            q.append(nxt)
        while q:
            node = q.popleft()
            for ch, nxt in self._next[node].items():
                q.append(nxt)
                f = self._fail[node]
                while f and ch not in self._next[f]:
                    f = self._fail[f]
                self._fail[nxt] = self._next[f].get(ch, 0) if self._next[f].get(ch, 0) != nxt else 0
                self._out[nxt] = self._out[nxt] + self._out[self._fail[nxt]]

    @staticmethod
    def _is_word_char(ch: str) -> bool:
        return ch.isalnum() or ch in "._"

    def find(self, text: str) -> list[tuple[str, int]]:
        """LEFTMOST-LONGEST, NON-OVERLAPPING whole-word matches over the
        normalized text (standard gazetteer chunking semantics): at the
        earliest matching position take the longest pattern, then continue
        after its end. Offsets are into the normalized string.

        Regex path = needle prefilter (str.find, C speed) + anchored
        longest-first match at candidate positions — byte-identical output
        to running the full alternation finditer over the text (pinned by
        tests), ~6× cheaper on mention-sparse 10 KB pages because the
        backtracking alternation only ever runs at needle hits."""
        norm = normalize_surface(text)
        if self._regex is not None:
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
                if pos > 0 and self._is_word_char_lc(norm[pos - 1]):
                    continue  # leading boundary (the finditer lookbehind)
                m = match(norm, pos)
                if m:
                    out.append((m.group(0), pos))
                    end = pos + len(m.group(0)) - 1
            return out
        return self._find_trie(norm)

    @staticmethod
    def _is_word_char_lc(ch: str) -> bool:
        # boundary class of the regex path: [a-z0-9._] over the already-
        # casefolded normalized text (the lookbehind it replaces)
        return ("a" <= ch <= "z") or ("0" <= ch <= "9") or ch in "._"

    def _find_trie(self, norm: str) -> list[tuple[str, int]]:
        hits: list[tuple[str, int]] = []
        node = 0
        for i, ch in enumerate(norm):
            while node and ch not in self._next[node]:
                node = self._fail[node]
            node = self._next[node].get(ch, 0)
            for pat in self._out[node]:
                start = i - len(pat) + 1
                before_ok = start == 0 or not self._is_word_char(norm[start - 1])
                after_ok = i + 1 >= len(norm) or not self._is_word_char(norm[i + 1])
                if before_ok and after_ok:
                    hits.append((pat, start))
        # greedy leftmost-longest sweep == the regex engine's behavior
        hits.sort(key=lambda t: (t[1], -len(t[0]), t[0]))
        out: list[tuple[str, int]] = []
        end = -1
        for pat, start in hits:
            if start > end:
                out.append((pat, start))
                end = start + len(pat) - 1
        return out
