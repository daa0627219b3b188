"""The prefiltered detection kernel must equal the golden detector on every
input: ``kernel.ids.scan_ids`` returns exactly the golden (kind, token,
offset) list and ``AhoCorasick.find`` exactly the golden (surface,
offset) list. Pinned on the fixture corpus, on large benchmark pages and
on adversarial constructs; plus a guard that keeps the oracle's detector
independent of the kernel."""

import ast
import glob
import os
import pickle
import re
import time

import pyarrow as pa
import pytest

from uckg_spark.fixtures import dicts as D
from uckg_spark.fixtures.pages import generate_pages, page_row
from uckg_spark.kernel.extract import extract_text
from uckg_spark.kernel.ids import AhoCorasick, scan_ids
from uckg_spark.oracle import detect as golden

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALIASES = [a["surface_form"] for a in D.alias_table()]
# multi-word and casefold-sensitive aliases for the adversarial cases
EXTRA_ALIASES = ALIASES + [
    "Acme Soft", "acme soft webgate", "Straße Router", "ﬁle Vault",
    "Kelvin Works", "İstanbul Gate", "data  relay\tnode", "x.y tool",
]


def _check(text, kernel_aho, golden_aho):
    assert scan_ids(text) == golden.scan_ids(text), repr(text)
    if text is not None:
        assert kernel_aho.find(text) == golden_aho.find(text), repr(text)


@pytest.fixture(scope="module")
def matchers():
    return AhoCorasick(ALIASES), golden.AliasMatcher(ALIASES)


@pytest.fixture(scope="module")
def extra_matchers():
    return AhoCorasick(EXTRA_ALIASES), golden.AliasMatcher(EXTRA_ALIASES)


def test_fixture_corpus_equals_golden(matchers):
    n_ids = n_aliases = 0
    for row in generate_pages(300, seed=7):
        text = extract_text(row["html"])
        _check(text, *matchers)
        n_ids += len(golden.scan_ids(text))
        n_aliases += len(matchers[1].find(text)) if text else 0
    assert n_ids > 300 and n_aliases > 50  # the corpus exercises both scans


@pytest.mark.parametrize("seed", [9013, 9014])
def test_large_pages_equal_golden(matchers, seed):
    for i in range(6):
        text = extract_text(page_row(i, seed, 1400)["html"])
        assert len(text) > 100_000
        _check(text, *matchers)


ID_CASES = [
    None, "", " ", "CVE-2024-0001", "see CVE-2024-0001", "CVE-2024-0001 x",
    "T1059", "T1059.003", "T1059.003.1", "T1059.00", "T1059.0031",
    "TA0040", "TA0040x", "TA00401", "G0016 S0154 M1036 C0015",
    "GA0016 SA1234 MA1234 CA1234", "T12345", "TT1059", "xT1059", "_T1059",
    "CVE-2021-44228.1", "CVE-2021-44228.", "CVE-2021-44228-1",
    "CVE-2021-44228.x", "-CVE-2021-44228", ".CVE-2021-44228",
    "cpe:2.3:a:vendor_T1059:prod",
    "cpe:2.3:a:v:p:1.0:*:*:*:*:*:*_T1059 x",
    "cpe:2.3:a:v:p:1.0:*:*:*:*:*:*",  # 10 components after 2.3
    "cpe:2.3:a:v:p:1.0:*:*:*:*:*:*:*",  # 11
    "cpe:2.3:a:v:p:1.0:*:*:*:*:*:*:*:extra",  # 12
    "cpe:2.3:a:acme_CVE-2024-1234:*:*:*:*:*:*:*:*:* CWE-79",
    "cpe:2.3:x:v:p:1:*:*:*:*:*:*:*", "CPE:2.3:a:v:p:1:*:*:*:*:*:*:*",
    "CAPEC-66 CAPEC- CAPEC-66a D3-FAPA D3-fapa D3- CWE-79CWE-80",
    "CVE-2024-1234CVE-2024-5678", "CVE-CVE-2024-1234", "CWE-CWE-79",
    " T1003.001 ", "ſT1059 KT1059",
    # texts made only of candidates
    "CVE-CVE-CAPEC-C1234TA1234", "CVE-CWE-CAPEC-D3-cpe:2.3:",
    "T1234T1234T1234", "TA1234 CA1234 C1234.123 CAPEC-1", "CWE-1CWE-2 CWE-3",
    # Python's \d on str is Unicode Nd: Arabic-Indic, Devanagari, fullwidth
    # and astral mathematical digits make ids of every kind (a [0-9]
    # prefilter drops them); non-digits after T/TA make none
    "x T١٢٣٤ y CVE-٢٠٢٤-١٢٣٤٥ CWE-٧٩ TA٠٠٠٤ z",
    "CAPEC-६६ T१०५९.००३ G००१६ S１２３４ M１０３６ C𝟎𝟎𝟏𝟓",
    "cpe:2.3:a:v:p:١:*:*:*:*:*:*:* CVE-𝟐𝟎𝟐𝟒-𝟏𝟐𝟑𝟒 D3-FAPA",
    "TA١٢٣ T١٢٣٤٥ CVE-٢٠٢٤-١٢٣ xT١٢٣٤ Tµµµµ T中文字符 TAéééé",
]


@pytest.mark.parametrize("text", ID_CASES)
def test_id_adversarial_equals_golden(text, extra_matchers):
    _check(text, *extra_matchers)


ALIAS_CASES = [
    "acme soft", "acme soft.", "xacme soft", "acme softx", "acme soft_",
    "ACME SOFT WebGate", "aCmE\tsOfT", "acme\nsoft webgate",
    "acme  soft webgate", "acme\x1csoft",
    "  acme soft  ", "\t\nacme soft webgate ", "acme soft acme soft",
    "acme  soft  webgateacme soft", "a.acme soft", "_acme soft",
    "STRASSE ROUTER", "straße router", "Straße\t\tRouter", "ßacme soft",
    "acme softß", "ﬁle vault", "FILE VAULT", "ﬁacme soft",
    "KELVIN WORKS", "kelvin works", "İSTANBUL GATE", "i̇stanbul gate",
    "İacme soft", "acme soft İ acme soft", "data relay node",
    "DATA RELAY\nNODE", "x.y tool", "ax.y tool",
    "ß  acme  soft   straße   router ﬁ", "acmeacme acme acmeacme",
    # astral, combining and casefold-expanding characters shift code-point
    # offsets against UTF-8 byte offsets and casefolded offsets
    "😀𝒜 acme soft", "e\u0301\u0301 acme soft", "ß ß acme soft ﬁ ﬃ",
    "İİ acme soft İ", "𝟘\U0010ffff\tacme  soft\x85webgate 😀",
]


@pytest.mark.parametrize("text", ALIAS_CASES)
def test_alias_adversarial_equals_golden(text, extra_matchers):
    _check(text, *extra_matchers)
    # with real aliases spliced in, mixed with ids and whitespace runs
    for alias in ("Acme Soft", "credential vault dredging", ALIASES[0],
                  ALIASES[-1]):
        mixed = f"{text}\t{alias.upper()} CVE-2024-0001 {text}"
        _check(mixed, *extra_matchers)
        _check(alias.replace(" ", "  \n "), *extra_matchers)


def test_lone_surrogate_texts_equal_golden(extra_matchers):
    """``pa.array`` rejects a lone surrogate, so the RE2 pass sees U+FFFD
    in its place; offsets and hits must not move."""
    for text in ["CVE-2024-0001 \ud800 acme soft T1059",
                 "\udfffacme soft\ud800 CVE-2024-0002\udc00T1059\ud83d",
                 "T\ud800\ud800\ud800\ud800 \ufffd acme \ud800 soft",
                 "ß\ud800 straße router İ acme soft"]:
        with pytest.raises(UnicodeEncodeError):
            pa.array([text])
        _check(text, *extra_matchers)
    pats = EXTRA_ALIASES + ["\ud800x tool", "\ufffdy tool"]
    kernel, gold = AhoCorasick(pats), golden.AliasMatcher(pats)
    for text in ["a \ud800x tool b \ufffdx tool", "\ud800y tool \ufffdy tool"]:
        assert kernel.find(text) == gold.find(text) != []


def test_overlapping_first_words_equal_golden():
    """RE2 resumes after a match, so a first word starting inside another's
    occurrence (suffix = prefix, self-overlap) is found only by the
    re-check inside each match."""
    pats = ALIASES + ["at&t wireless", "t mobile", "-- x", "aaaa b"]
    kernel, gold = AhoCorasick(pats), golden.AliasMatcher(pats)
    for text, want in [("at&t mobile", [("t mobile", 3)]),
                       ("----- x", [("-- x", 3)]),
                       ("--- x and at&t wireless", [("-- x", 1),
                                                    ("at&t wireless", 10)])]:
        assert kernel.find(text) == gold.find(text) == want
    for text in ["hoolinitech", "bootyrell", "umbrellacme", "aaaaaaa b",
                 "hooli initech boot tyrell umbrella acme"]:
        assert kernel.find(text) == gold.find(text)


def test_metacharacter_first_words_equal_golden():
    pats = ALIASES + ["c++ builder", "node.js runtime", "at&t wireless",
                      "a|b tool", "x? y", "(paren) kit", "[ab] set", "\\d x"]
    kernel, gold = AhoCorasick(pats), golden.AliasMatcher(pats)
    text = ("C++ Builder, node.js runtime and AT&T wireless; a|b tool, "
            "x? y (paren) kit [ab] set \\d x; cpp builder nodexjs runtime "
            "a tool b tool ab set 7 x")
    assert kernel.find(text) == gold.find(text)
    assert len(gold.find(text)) == 8


def test_empty_alias_table_finds_nothing():
    for pats in ([], ["", "  \t"]):
        kernel, gold = AhoCorasick(pats), golden.AliasMatcher(pats)
        for text in ["", "acme soft", "  ", "CVE-2024-0001"]:
            assert kernel.find(text) == gold.find(text) == []


def test_regex_engine_at_its_pattern_bound():
    """2000 patterns with 2000 distinct first words: still the regex
    engine, equal to golden on a bench page, and one call stays far below
    what 2000 ``str.find`` passes over that page cost (~0.4 s on a 4-core
    host; RE2 compiles the alternation per call, ~5 ms)."""
    words = [f"{w}{i}" for i, w in enumerate(
        ["vendor", "acme", "corp", "soft", "tool"] * 400)]
    pats = [f"{w} suite" for w in words[: 2000 - 3]] + [
        "Acme Soft", "Straße Router", "credential vault dredging"]
    aho, gold = AhoCorasick(pats), golden.AliasMatcher(pats)
    assert len(aho._patterns) == 2000 and aho._regex is not None
    text = extract_text(page_row(3, 9015, 1400)["html"])
    text += " Vendor0 suite, tool1994 SUITE and acme soft"
    assert len(text) > 100_000
    got = aho.find(text)
    assert got == gold.find(text) and len(got) >= 3
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        aho.find(text)
        times.append(time.perf_counter() - t0)
    assert sorted(times)[1] < 0.1, times


def test_alias_hits_at_text_edges(extra_matchers):
    kernel, gold = extra_matchers
    text = "Acme Soft WebGate and T1059 then straße router"
    assert kernel.find(text) == gold.find(text) == [
        ("acme soft webgate", 0), ("strasse router", 33)]
    assert scan_ids(text) == golden.scan_ids(text) == [
        ("attack", "T1059", 22)]


def test_re_whitespace_is_str_isspace():
    """The verifier's ``\\s+`` and the normalizer's ``split()`` agree on
    every code point, so a pattern space matches exactly the runs that
    collapsing turns into one space."""
    text = "".join(map(chr, range(0x110000)))
    assert ({m.start() for m in re.finditer(r"\s", text)}
            == {i for i, ch in enumerate(text) if ch.isspace()})


def test_trie_engine_built_on_first_use():
    aho = AhoCorasick(ALIASES)
    text = extract_text(generate_pages(5, seed=3)[0]["html"])
    aho.find(text)
    assert aho._next is None  # the regex engine never builds the trie
    blob = pickle.dumps(aho)
    trie = pickle.loads(blob)
    trie._regex = None  # force the trie engine
    assert trie.find(text) == aho.find(text)
    assert trie._next is not None


def test_trie_engine_over_regex_limit_equals_golden():
    pats = ALIASES + [f"filler term {i}" for i in range(2000)]
    aho, gold = AhoCorasick(pats), golden.AliasMatcher(pats)
    assert aho._regex is None and aho._next is None
    for row in generate_pages(20, seed=11):
        text = extract_text(row["html"])
        if text:
            text += " Filler  Term 17 and filler term 1999."
            assert aho.find(text) == gold.find(text)


def _kernel_ids_imports(path):
    """Names ``path`` takes from ``uckg_spark.kernel.ids``; a whole-module
    import is reported as ``*``."""
    pkg = "uckg_spark.oracle"
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = pkg.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1]
                                + ([base] if base else []))
            if base == "uckg_spark.kernel.ids":
                yield from (a.name for a in node.names)
            elif base == "uckg_spark.kernel" and any(
                    a.name == "ids" for a in node.names):
                yield "*"
        elif isinstance(node, ast.Import) and any(
                a.name.startswith("uckg_spark.kernel.ids") for a in node.names):
            yield "*"


def test_oracle_detector_takes_only_constants_from_kernel():
    """The oracle computes mentions with its own detector. It may share
    the id grammar strings with the kernel, never a detection function,
    so a kernel change cannot move both sides of a parity check."""
    taken = {}
    for path in glob.glob(f"{REPO}/uckg_spark/oracle/*.py"):
        names = list(_kernel_ids_imports(path))
        if names:
            taken[os.path.relpath(path, REPO)] = names
    assert "uckg_spark/oracle/detect.py" in taken  # the guard sees imports
    offenders = [f"{p}: {n}" for p, names in taken.items() for n in names
                 if not re.fullmatch(r"[A-Z][A-Z0-9_]*", n)]
    assert not offenders, ("the oracle must keep its own detector:\n"
                           + "\n".join(offenders))


def test_oracle_page_mentions_use_golden_detector():
    from uckg_spark.oracle.kg_oracle import OracleDictionaries

    assert isinstance(OracleDictionaries().aliases, golden.AliasMatcher)
