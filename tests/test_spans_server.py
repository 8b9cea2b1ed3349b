"""SpanNearQuery, spellcheck, drill-sideways, and collapse/expand tests.

Span semantics are brute-force verified against the analyzer's token
positions (reference NearSpansOrdered / NearSpansUnordered matching);
server-surface operators are cross-checked against independent pandas
computations / already-verified operators.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import ConstantScoreQuery, SpanNearQuery, TermQuery


@pytest.fixture(scope="module")
def pos_searcher(pos_index8, spark_corpus):
    return IndexSearcher(pos_index8, spark_corpus)


def _brute_span_docs(corpus_pdf, analyzer, terms, slop, in_order):
    """Doc ids (stable (conv_id, turn_idx) order) with a qualifying span."""
    pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = set()
    for doc_id, text in enumerate(pdf["text"]):
        toks = analyzer.tokens_with_positions(text)
        pos = {}
        for t, p in toks:
            pos.setdefault(t, []).append(p)
        if any(t not in pos for t in terms):
            continue
        if in_order:
            # increasing chains; total gap = p_last - p_first - (n-1)
            found = False
            for p0 in pos[terms[0]]:
                # bound the total gap at the end: enumerate full chains
                def chains(i, prev, first):
                    if i == len(terms):
                        yield prev - first - (len(terms) - 1)
                        return
                    for p in pos[terms[i]]:
                        if p > prev:
                            yield from chains(i + 1, p, first)

                if any(g <= slop for g in chains(1, p0, p0)):
                    found = True
                    break
            if found:
                out.add(doc_id)
        else:
            a, b = terms
            if any(pa != pb and abs(pb - pa) - 1 <= slop for pa in pos[a] for pb in pos[b]):
                out.add(doc_id)
    return out


@pytest.mark.parametrize(
    "terms,slop,in_order",
    [
        (("the", "and"), 0, True),
        (("the", "of"), 2, True),
        (("the", "and", "of"), 3, True),
        (("the", "of"), 1, False),
    ],
)
def test_span_near_matches_brute_force(pos_searcher, fixture_corpus_pdf, terms, slop, in_order):
    from lucene_solr_spark.functions.analysis import standard_analyzer

    q = ConstantScoreQuery(SpanNearQuery(terms, slop=slop, in_order=in_order))
    got = {
        r["doc_id"]
        for r in pos_searcher._evaluate(q, 1.0, pos_searcher._term_stats(set(terms))).collect()
    }
    want = _brute_span_docs(fixture_corpus_pdf, standard_analyzer(), terms, slop, in_order)
    assert got == want


def test_span_near_requires_positions(searcher):
    with pytest.raises(ValueError):
        searcher.search(SpanNearQuery(("the", "and"), slop=1), 10).df.collect()


def test_spellcheck_ranking(pos_searcher):
    rows = pos_searcher.spellcheck("thx", max_edits=1, n=5).collect()
    assert rows, "expected at least one correction within 1 edit of 'thx'"
    # ranked (distance asc, df desc, term asc); 'the' is the most frequent 1-edit term
    assert rows[0]["term"] == "the"
    keys = [(r["distance"], -r["df"], r["term"]) for r in rows]
    assert keys == sorted(keys)


def test_drill_sideways_counts(pos_searcher, fixture_corpus_pdf):
    from lucene_solr_spark.functions.analysis import standard_analyzer

    an = standard_analyzer()
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    match = pdf[[("the" in an.tokens(t)) for t in pdf["text"]]]

    dims = {"role": "user", "tool": "bash"}
    got = {
        (r["dim"], r["value"]): r["cnt"]
        for r in pos_searcher.drill_sideways(TermQuery("the"), dims).collect()
    }
    want = {}
    sub = match[match["tool"] == "bash"]
    for v, c in sub.groupby("role").size().items():
        want[("role", v)] = c
    sub = match[match["role"] == "user"]
    for v, c in sub.groupby("tool", dropna=True).size().items():
        want[("tool", v)] = c
    # engine counts NULL tool buckets too; compare on shared non-null keys
    got_nonnull = {k: v for k, v in got.items() if k[1] is not None}
    assert got_nonnull == {k: int(v) for k, v in want.items()}


def test_expand_consistent_with_group_topk(pos_searcher):
    q = TermQuery("the")
    exp = {r["grp"]: r for r in pos_searcher.expand(q, "role", n_expand=2).collect()}
    grp = pos_searcher.group_topk(q, "role", 3).collect()
    want: dict = {}
    for r in grp:
        g = want.setdefault(r["role"], {"head": None, "exp": []})
        if r["rank"] == 1:
            g["head"] = r["doc_id"]
        else:
            g["exp"].append(r["doc_id"])
    assert set(exp) == set(want)
    for g, w in want.items():
        assert exp[g]["head_doc"] == w["head"]
        got_exp = [int(x) for x in exp[g]["exp_docs"].split(",") if x]
        assert sorted(got_exp) == sorted(w["exp"])


def test_interval_facet_matches_pandas(pos_searcher, fixture_corpus_pdf):
    """IntervalFacets: overlapping open/closed intervals, independent
    membership, verified against a pandas count over the true match set."""
    specs = ["[*,3)", "[1,5)", "(2,8]", "[4,*]"]
    got = {
        r["interval"]: r["cnt"]
        for r in pos_searcher.interval_facet(TermQuery("the"), "turn_idx", specs).collect()
    }
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    from lucene_solr_spark.functions.analysis import standard_analyzer

    an = standard_analyzer()
    vals = [
        int(t_idx)
        for t_idx, text in zip(pdf["turn_idx"], pdf["text"])
        if "the" in dict(an.tokens_with_positions(text))
    ]
    want = {
        "[*,3)": sum(v < 3 for v in vals),
        "[1,5)": sum(1 <= v < 5 for v in vals),
        "(2,8]": sum(2 < v <= 8 for v in vals),
        "[4,*]": sum(v >= 4 for v in vals),
    }
    assert got == want and sum(want.values()) > 0


def test_interval_facet_bad_syntax_rejected(pos_searcher):
    with pytest.raises(ValueError):
        pos_searcher.interval_facet(TermQuery("the"), "turn_idx", ["[1..5]"]).collect()
