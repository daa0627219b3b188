"""Seed determinism of the benchmark's inputs and references.

  python3 -m pytest perfbench -q

No Spark: these check the generators and the oracle figures that every
run derives from ``--seed``.
"""

import hashlib

from perfbench import kg, sync


def _corpus_digest(seed: int, n: int = 20) -> str:
    h = hashlib.sha256()
    for row in kg.page_rows(kg.corpus_specs(seed, n), kg.FILLER_PARAS):
        h.update(row["url"].encode() + b"\0" + row["html"] + b"\0")
    return h.hexdigest()


def _drops(seed: int, n_pages: int = 200, n_drops: int = 3) -> list[dict]:
    seq = sync.DropSequence(seed, n_pages)
    return [seq.next() for _ in range(n_drops)]


def _edge_deltas(seed: int, n_pages: int = 200, n_drops: int = 3):
    ref = sync.Reference(n_pages, workers=2)
    return [ref.apply(d) for d in _drops(seed, n_pages, n_drops)]


def test_same_seed_same_corpus():
    assert _corpus_digest(7) == _corpus_digest(7)


def test_other_seed_other_corpus():
    assert _corpus_digest(7) != _corpus_digest(8)


def test_same_seed_same_drops():
    assert _drops(7) == _drops(7)
    assert _drops(7) != _drops(8)


def test_drop_keeps_corpus_size():
    seq = sync.DropSequence(7, 200)
    for _ in range(3):
        d = seq.next()
        assert len(seq.live) == 200
        assert d["changed_urls"] == 3 * seq.size == 6
        deleted = {i for i, _ in d["deletes"]}
        assert not deleted & {i for i, _ in d["upserts"]}
        assert not deleted & set(seq.live)


def test_same_seed_same_edge_deltas():
    first = _edge_deltas(7)
    assert first == _edge_deltas(7)
    assert any(a or r for a, r in first)


def test_oracle_digest_repeats_for_a_seed():
    first = kg.oracle_digest(5, n_pages=60, workers=2, filler=0)
    assert first == kg.oracle_digest(5, n_pages=60, workers=2, filler=0)
    assert first["n_edges"] > 0 and first["n_nodes"] > 0
    assert first != kg.oracle_digest(6, n_pages=60, workers=2, filler=0)


def test_oracle_is_a_union_over_pages():
    """The per-page oracle that the references are built from gives the
    same graph as one oracle run over the whole corpus."""
    from uckg_spark.oracle.kg_oracle import run_oracle

    rows = kg.page_rows(kg.corpus_specs(5, 60), 0)
    per_page = kg.oracle_triples(kg.corpus_specs(5, 60), 0, workers=2)
    assert set().union(*per_page.values()) == run_oracle(rows)[1]
