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

Both scans prefilter, then verify: one RE2 pass finds candidate starts,
and the expensive matcher runs only there.

- The pass (``_candidate_starts``): ``pyarrow.compute.split_pattern_regex``
  cuts the text at the leftmost non-overlapping matches of a candidate
  alternation; ``utf8_length`` of the pieces gives code-point offsets,
  and ``re`` re-matches the alternation at each cut for its end. Both
  engines read the alternation alike (literals, escaped punctuation,
  classes of literal characters, ``?``, ``{n}``), and no two of its
  branches match at one start, so the spans agree. RE2 resumes after a
  match; every position inside one is re-checked with ``re``, so
  overlapping occurrences are kept. A text that Arrow cannot hold (a lone
  surrogate) goes through the same pass with each surrogate replaced by
  U+FFFD: offsets keep, and the candidates stay a superset.
- ``scan_ids``: every ``_SCAN_RE`` match starts with ``CVE-``, ``CWE-``,
  ``CAPEC-``, ``D3-``, ``cpe:2.3:`` or a ``[TGSMC]A?\\d{4}`` run.
  ``_ID_CANDIDATES`` finds them with the digit class widened to 0-9 plus
  every non-ASCII code point: a superset of ``re``'s ``\\d`` (Unicode
  Nd) that does not depend on either engine's Unicode tables.
  ``_SCAN_RE.match`` at each start in order, resuming at the match end,
  is then exactly ``finditer``: the lookbehind still sees the text before
  the start.
- ``AhoCorasick.find``: a match in the normalized text begins with its
  pattern's first word, which holds no whitespace and so appears verbatim
  in ``text.casefold()``. The pass runs there over the first words; the
  verifier is the same longest-first alternation with each pattern space
  as ``\\s+`` (``re``'s ``\\s`` is ``str.isspace``, the class ``split()``
  collapses). Offsets are mapped into normalized-text space only for the
  hits.

``oracle/detect.py`` keeps the plain scans as the golden copy.
"""

from __future__ import annotations

import re
from collections import deque

import pyarrow as pa
import pyarrow.compute as pc

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


# every _SCAN_RE match starts with a match of this alternation; its digit
# class (0-9 and every code point from U+0080) holds all of \d
_ID_CANDIDATES = re.compile(
    "CVE-|CWE-|CAPEC-|D3-|cpe:2\\.3:|[TGSMC]A?[0-9\x80-\U0010ffff]{4}")
_SURROGATES = re.compile("[\ud800-\udfff]")


def _arrow_safe(s: str) -> str:
    """``s`` with each lone surrogate, which UTF-8 cannot hold, replaced by
    U+FFFD: one code point for one, so offsets keep."""
    return _SURROGATES.sub("\ufffd", s)


def _candidate_starts(text: str, rx: re.Pattern) -> list[int]:
    """Start offsets, ascending, of every occurrence of ``rx`` in ``text``,
    overlapping ones included, from one RE2 pass (module docstring)."""
    try:
        arr = pa.array([text], pa.large_string())
    except UnicodeEncodeError:
        text = _arrow_safe(text)
        arr = pa.array([text], pa.large_string())
    pieces = pc.split_pattern_regex(arr, pattern=rx.pattern).values
    lens = pc.utf8_length(pieces).to_pylist()
    match = rx.match
    starts: list[int] = []
    pos = lens[0]
    for n in lens[1:]:
        end = match(text, pos).end()
        starts.append(pos)
        starts.extend(q for q in range(pos + 1, end) if match(text, q))
        pos = end + n
    return starts


def scan_ids(text: str | None) -> list[tuple[str, str, int]]:
    """Return [(kind, id, char_offset)] for every well-formed identifier.

    Deterministic: document order, overlaps resolved longest-match by the
    alternation order above. Equal to ``_SCAN_RE.finditer`` over the text,
    with the matcher run only at candidate starts (module docstring).
    """
    if not text:
        return []
    out: list[tuple[str, str, int]] = []
    end = 0
    match = _SCAN_RE.match
    for s in _candidate_starts(text, _ID_CANDIDATES):
        if s < end:
            continue  # inside the previous match, as finditer resumes
        m = match(text, s)
        if m is None:
            continue
        end = m.end()
        tok = m.group("id")
        kind = classify_id(tok)
        if kind is not None:
            out.append((kind, tok, s))
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


# whitespace runs that collapsing shortens (by len - 1 each)
_WS_RUNS = re.compile(r"\s{2,}")


class AhoCorasick:
    """Multi-pattern whole-word matcher. ``find(text)`` returns
    [(surface_form, char_offset)] over the normalized text in document
    order.

    Two engines, ONE semantics (equivalence is tested on the fixture
    corpus, tests/test_kernel.py):
    - ≤ ``_REGEX_MAX_PATTERNS`` patterns: one RE2 pass for the patterns'
      first words over the casefolded text, verified by a compiled
      longest-first alternation (module docstring) — C speed, the
      fixture/bench path. RE2 compiles the first-word alternation on every
      call: ~0.05 ms at 18 words, a few ms at 2000.
    - above that: the classic trie + failure-link automaton — O(text)
      regardless of dictionary size, the production path for ~1.3M CPE
      vendor/product strings. Built on first use, so a regex-engine
      matcher ships no trie in its Spark broadcast.

    The fast path assumes patterns are not nested within one another
    (true for vendor-product alias tables); the trie path reports nested
    matches too.
    """

    _REGEX_MAX_PATTERNS = 2000

    def __init__(self, patterns: list[str]):
        # dedup on NORMALIZED form — distinct raw styles ("ACMESOFT webgate",
        # "Acmesoft Webgate") collapse to one pattern
        self._patterns = sorted({normalize_surface(p) for p in patterns} - {""})
        self._next: list[dict[str, int]] | None = None  # trie, on first use
        self._regex = None
        self._first_words = None  # candidate alternation of the regex engine
        if len(self._patterns) <= self._REGEX_MAX_PATTERNS:
            longest_first = sorted(self._patterns, key=lambda s: (-len(s), s))
            body = "|".join(r"\s+".join(map(re.escape, p.split(" ")))
                            for p in longest_first)
            # matched at candidate starts: the trailing boundary is the
            # lookahead, the leading one is checked in find (_is_word_char_lc)
            self._regex = re.compile(
                r"(?:" + body + r")(?![a-z0-9._])"
            ) if longest_first else re.compile(r"(?!)")
            # keep only first words that do not extend another (a prefix
            # needle's hits cover its extensions')
            words = sorted({p.split(" ")[0] for p in self._patterns})
            needles = [w for w in words if not any(
                w != o and w.startswith(o) for o in words)]
            if needles:
                self._first_words = re.compile(
                    _arrow_safe("|".join(map(re.escape, needles))))

    def _build_trie(self):
        # nodes: list of dicts char->node_id
        self._next = [{}]
        self._fail: list[int] = [0]
        self._out: list[list[str]] = [[]]
        for norm in self._patterns:
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

        Regex path: one RE2 pass over ``text.casefold()`` finds where the
        first words occur, the anchored alternation is verified only
        there, then each hit's offset is mapped into normalized-text
        space. Equal to the normalize-then-match scan of
        ``oracle/detect.py`` (pinned by tests/test_detect_kernel.py)."""
        if self._regex is None:
            return self._find_trie(normalize_surface(text))
        if self._first_words is None:
            return []  # no patterns
        cf = text.casefold()
        out: list[tuple[str, int]] = []
        end = 0
        # normalized offset = cf offset - chars that collapsing drops
        # before it, counted from the previous hit on; a leading run goes
        # whole (one char here, the rest in its _WS_RUNS match)
        last, dropped = 0, int(cf[:1].isspace())
        match = self._regex.match
        for pos in _candidate_starts(cf, self._first_words):
            if pos < end:
                continue  # inside the previous match (non-overlap)
            if pos > 0 and self._is_word_char_lc(cf[pos - 1]):
                continue  # leading boundary
            m = match(cf, pos)
            if m:
                dropped += sum(r.end() - r.start() - 1
                               for r in _WS_RUNS.finditer(cf, last, pos))
                last, end = pos, m.end()
                out.append((" ".join(m.group(0).split()), pos - dropped))
        return out

    @staticmethod
    def _is_word_char_lc(ch: str) -> bool:
        # boundary class of the regex path: [a-z0-9._] over the already-
        # casefolded text
        return ("a" <= ch <= "z") or ("0" <= ch <= "9") or ch in "._"

    def _find_trie(self, norm: str) -> list[tuple[str, int]]:
        if self._next is None:
            self._build_trie()
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
