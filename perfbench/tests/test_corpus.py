"""Gate-neutral, seed-keyed corpus synthesis."""

from collections import Counter

import pytest

from corpus import MAX_SCALE, base_corpus, rotate, scaled_tables


def _bigram_repeat_fraction(text: str) -> float:
    grams = Counter(text[i : i + 2] for i in range(len(text) - 1))
    return sum(c for c in grams.values() if c > 1) / max(1, sum(grams.values()))


def test_same_seed_same_corpus_other_seed_other_corpus():
    a, _ = base_corpus(5, n_docs=300)
    b, _ = base_corpus(5, n_docs=300)
    c, _ = base_corpus(6, n_docs=300)
    assert a["text"] == b["text"]
    assert a["text"] != c["text"]


def test_rotations_are_distinct_and_gate_neutral():
    docs, _ = base_corpus(1, n_docs=200)
    text = docs["text"][0]
    orig = set(text.split(" "))
    rotated = [rotate(text, r) for r in range(MAX_SCALE)]
    assert len(set(rotated)) == MAX_SCALE  # no replica repeats another
    for k, r in enumerate(rotated):
        toks = r.split(" ")
        assert "the" in toks and "a" in toks  # stopword gate still fires
        assert len(toks) == len(text.split(" ")) + 2
        # a rotation maps distinct tokens to distinct tokens; only the
        # appended stopwords add types
        assert len(set(toks)) == len(orig) + (2 if k else len({"the", "a"} - orig))
        assert _bigram_repeat_fraction(r) == pytest.approx(
            _bigram_repeat_fraction(rotate(text, 0)), abs=0.02
        )


def test_scale_is_capped_at_distinct_rotations():
    with pytest.raises(ValueError):
        scaled_tables(1, MAX_SCALE + 1, n_docs=50)


def test_scaled_ids_are_disjoint_and_near_duplicates_are_planted():
    docs, embs = scaled_tables(2, 3, n_docs=500)
    ids = docs.column("doc_id").to_pylist()
    assert len(ids) == len(set(ids)) == 1500
    assert embs.num_rows == 600
    texts = docs.column("text").to_pylist()[:500]
    dups = sum(t.replace(" dup", "") in set(texts[:i]) for i, t in enumerate(texts))
    assert dups > 0
