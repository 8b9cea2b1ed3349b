"""Exact SloppyPhraseMatcher semantics (functions/sloppyphrase.py):
hand-verified reference behaviors + invariants + engine integration."""
import numpy as np
import pytest

from lucene_solr_spark.functions.sloppyphrase import sloppy_phrase_freq


def _toks(text):
    return text.split()


def _freq(phrase, text, slop):
    toks = _toks(text)
    pos_lists = [[p for p, t in enumerate(toks) if t == ph] for ph in phrase]
    return float(sloppy_phrase_freq(list(phrase), pos_lists, slop))


def test_adjacent_match_weight_one():
    # matchLength 0 → sloppyWeight 1
    assert _freq(("quick", "brown"), "the quick brown fox", 0) == 1.0
    assert _freq(("quick", "brown"), "the quick brown fox", 5) == 1.0


def test_one_gap():
    # "quick fox" over "quick brown fox": matchLength 1 → 1/2; not a match at slop 0
    assert _freq(("quick", "fox"), "quick brown fox", 0) == 0.0
    assert _freq(("quick", "fox"), "quick brown fox", 1) == 0.5


def test_order_insensitive():
    # reversed order needs slop >= distance including the swap:
    # "fox quick" over "quick brown fox": pos(fox)-1 = 1, pos(quick)-0 = 0...
    # matchLength = 2-(-1) = 3 (position adjustment makes reversal cost 3)
    assert _freq(("fox", "quick"), "quick brown fox", 2) == 0.0
    assert _freq(("fox", "quick"), "quick brown fox", 3) == pytest.approx(0.25)


def test_adjacent_swap_costs_two():
    # "b a" over "a b": slot b at 0-0=0? positions: a=0, b=1;
    # phrase (b,a): slot0 b → 1-0=1; slot1 a → 0-1=-1; matchLength=2
    assert _freq(("b", "a"), "a b", 1) == 0.0
    assert _freq(("b", "a"), "a b", 2) == pytest.approx(1.0 / 3.0)


def test_repeats_exact():
    # "my ho my"~2 over "my ho my" (SloppyPhraseMatcher javadoc example):
    # perfect alignment, matchLength 0 → freq 1
    assert _freq(("my", "ho", "my"), "my ho my", 2) == 1.0
    # repeats with only one occurrence of the repeated term: impossible
    assert _freq(("my", "ho", "my"), "my ho no", 5) == 0.0


def test_multiple_matches_accumulate():
    # two adjacent occurrences → freq 2.0
    assert _freq(("a", "b"), "a b x a b", 0) == 2.0


def test_monotone_in_slop():
    text = "c x a y b z a b c a c b"
    phrase = ("a", "b", "c")
    prev = 0.0
    for slop in range(0, 10):
        f = _freq(phrase, text, slop)
        assert f >= prev - 1e-6
        prev = f


def test_missing_term_zero():
    assert _freq(("a", "q"), "a b c", 9) == 0.0


def test_single_slot():
    assert _freq(("a",), "a b a", 0) == 2.0


def test_engine_sloppy_scores_float_freq(searcher, oracle):
    """Integration: engine sloppy phrase scores = BM25(float sloppy freq)."""
    from lucene_solr_spark.plans.query import PhraseQuery

    res = searcher.search(PhraseQuery(("ge0", "vecodu"), slop=3), 20).collect()
    assert len(res) > 0
    # scores must be valid float32 and strictly positive, ordered desc
    scores = [s for _, s in res]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_sloppy_oracle_sql_walk_matches_matcher():
    """The ft_phrase_sloppy oracle's recursive-CTE walk must reproduce the
    engine matcher's float32 sloppy freq on random position configurations —
    the independent-SQL-re-derivation guarantee the contract row rests on."""
    import random
    import re

    import duckdb
    import numpy as np
    import pandas as pd

    from lucene_solr_spark.driver_contract import ft_oracle_sql
    from lucene_solr_spark.functions.sloppyphrase import sloppy_phrase_freq

    sql = ft_oracle_sql()["ft_phrase_sloppy"]
    # reduce the top-k ranking query to the per-doc freq relation it ranks
    head = sql[: sql.rindex("SELECT CAST(row_number()")]
    freq_sql = head + "SELECT doc_id, freq FROM sfreq ORDER BY doc_id"

    rng = random.Random(17)
    filler = ["w%d" % i for i in range(30)]
    rows = []
    for did in range(400):
        n = rng.randint(2, 40)
        toks = [rng.choice(filler) for _ in range(n)]
        for _ in range(rng.randint(1, 6)):
            toks[rng.randrange(n)] = "scan"
        for _ in range(rng.randint(1, 6)):
            toks[rng.randrange(n)] = "merge"
        rows.append((did, " ".join(toks)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    con = duckdb.connect()
    con.register("documents", pdf)
    got = {int(r[0]): np.float32(r[1]) for r in con.execute(freq_sql).fetchall()}

    n_checked = 0
    for did, text in rows:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        a = [i for i, t in enumerate(toks) if t == "scan"]
        b = [i for i, t in enumerate(toks) if t == "merge"]
        if not a or not b:
            assert did not in got
            continue
        ref = sloppy_phrase_freq(["scan", "merge"], [a, b], 2)
        assert float(got.get(did, np.float32(0.0))) == float(ref), (did, a, b)
        n_checked += 1
    assert n_checked >= 300
