"""Surround query parser (queryparser/surround/parser/QueryParser.jj):
grammar table, reference error rules, and end-to-end evaluation — including
nested distance chains verified against a brute-force span matcher."""

import pytest

from lucene_solr_spark.plans.query import (
    BooleanQuery,
    PrefixQuery,
    SpanMultiTermWrapper,
    SpanNearQuery,
    TermQuery,
    WildcardQuery,
)
from lucene_solr_spark.plans.surround_parser import SurroundParseError, parse_surround
from lucene_solr_spark.operators.searcher import IndexSearcher


def test_infix_booleans():
    q = parse_surround("Scan AND merge AND key")
    assert [c.query.term for c in q.clauses] == ["scan", "merge", "key"]
    assert {c.occur for c in q.clauses} == {"MUST"}
    q = parse_surround("scan OR merge")
    assert {c.occur for c in q.clauses} == {"SHOULD"}
    q = parse_surround("scan NOT merge NOT key")
    assert [c.occur for c in q.clauses] == ["MUST", "MUST_NOT", "MUST_NOT"]


def test_distance_operators():
    # default distance 1 -> slop 0; nW -> slop n-1; W ordered, N unordered
    assert parse_surround("scan W merge") == SpanNearQuery(("scan", "merge"), slop=0, in_order=True)
    assert parse_surround("scan 3w merge") == SpanNearQuery(("scan", "merge"), slop=2, in_order=True)
    assert parse_surround("99N(key, sort)") == SpanNearQuery(("key", "sort"), slop=98, in_order=False)
    # prefix n-ary
    assert parse_surround("W(a1, b2, c3)") == SpanNearQuery(("a1", "b2", "c3"), slop=0, in_order=True)
    # left-associative infix chain -> nested two-operand queries
    q = parse_surround("scan w merge 4w key")
    assert q == SpanNearQuery(
        (SpanNearQuery(("scan", "merge"), slop=0, in_order=True), "key"), slop=3, in_order=True
    )


def test_or_inside_distance_and_truncations():
    q = parse_surround("OR(scan, merge) W key")
    assert q == SpanNearQuery((("scan", "merge"), "key"), slop=0, in_order=True)
    q = parse_surround("sca* W merge")
    assert q.span_terms[0] == SpanMultiTermWrapper(PrefixQuery("sca"))
    q = parse_surround("s?an AND merge")
    assert q.clauses[0].query == WildcardQuery("s?an")
    assert parse_surround('"sca"*') == PrefixQuery("sca")
    assert parse_surround('"Scan"', normalize=None) == TermQuery("Scan")


def test_weights_and_fields():
    assert parse_surround("scan^2").boost == 2.0
    assert parse_surround("scan^2^3").boost == 6.0
    bq = parse_surround("(scan AND merge)^1.5")
    assert bq.boost == 1.5 and isinstance(bq.query, BooleanQuery)
    assert parse_surround("text:scan") == TermQuery("scan")


@pytest.mark.parametrize(
    "bad",
    [
        "ab*",  # prefix below MINIMUM_PREFIX_LENGTH (QueryParser.jj:76)
        "a?b",  # < 3 normal chars in truncation (:77)
        "(scan AND merge) W key",  # AND not allowed inside a distance op
        "(scan NOT merge) N key",
        "scan^0",  # boost must be > 0
        "scan^merge",
        "scan AND",  # dangling operator
        "W(scan)",  # prefix op needs >= 2 operands
        "unknownfield:scan",
    ],
)
def test_parse_errors(bad):
    with pytest.raises(SurroundParseError):
        parse_surround(bad)


# ------------------------------------------------------------- end to end
@pytest.fixture(scope="module")
def pos_searcher(pos_index8, spark_corpus):
    return IndexSearcher(pos_index8, spark_corpus)


def _brute_spans(tokens, node):
    """All (s, e) spans of a parsed surround node over one token list."""
    if isinstance(node, str):
        return [(i, i + 1) for i, t in enumerate(tokens) if t == node]
    if isinstance(node, tuple):
        return sorted((i, i + 1) for i, t in enumerate(tokens) if t in node)
    assert isinstance(node, SpanNearQuery)
    subs = [_brute_spans(tokens, c) for c in node.span_terms]
    out = []

    def rec(i, acc):
        if i == len(subs):
            if node.in_order:
                gap = sum(acc[j][0] - acc[j - 1][1] for j in range(1, len(acc)))
                if all(acc[j][0] >= acc[j - 1][1] for j in range(1, len(acc))) and gap <= node.slop:
                    out.append((acc[0][0], acc[-1][1]))
            else:
                # NearSpansUnordered window; the binary case keeps the
                # identical-span exclusion (engine refinement)
                w = sum(e - s for s, e in acc)
                lo, hi = min(s for s, _ in acc), max(e for _, e in acc)
                distinct_ok = len(acc) != 2 or acc[0] != acc[1]
                if hi - lo - w <= node.slop and distinct_ok:
                    out.append((lo, hi))
            return
        for sp in subs[i]:
            rec(i + 1, acc + [sp])

    rec(0, [])
    return out


@pytest.mark.parametrize(
    "expr",
    [
        "scan 2W merge",
        "key N sort",
        "scan w merge w key",  # nested ordered chain
        "(scan 2w merge) 5w key",
        "OR(scan, merge) 3N key",  # unordered with an OR slot
        "(scan w merge) n key",  # nested inside unordered
        "4N(scan, merge, key)",  # n-ary unordered window
        "8N(scan, key, sort, dup)",  # 4-ary
    ],
)
def test_surround_eval_vs_brute_force(pos_searcher, fixture_corpus_pdf, expr):
    from lucene_solr_spark.functions.analysis import standard_analyzer

    q = parse_surround(expr)
    got = sorted(
        r["doc_id"]
        for r in pos_searcher.search(q, 5000).df.select("doc_id").collect()
    )
    an = standard_analyzer()
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = sorted(
        doc_id for doc_id, text in enumerate(pdf["text"]) if _brute_spans(an.tokens(text), q)
    )
    assert got == want, expr


def test_surround_boolean_end_to_end(pos_searcher, searcher):
    """Parsed boolean == hand-built boolean, scored identically."""
    q = parse_surround("scan AND merge NOT key")
    # NOT binds tighter than AND: scan AND (merge NOT key)
    want = BooleanQuery.build(
        must=[
            TermQuery("scan"),
            BooleanQuery.build(must=[TermQuery("merge")], must_not=[TermQuery("key")]),
        ]
    )
    assert pos_searcher.search(q, 10).collect() == pos_searcher.search(want, 10).collect()
