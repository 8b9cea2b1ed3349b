"""Single-process control engine with exact Lucene semantics.

The control-vs-distributed test pattern of the reference (SURVEY.md §5,
``reference solr/test-framework/src/java/org/apache/solr/
BaseDistributedSearchTestCase.java:100,254-360``): every query's top-k from
the Spark engine must be rank-identical (doc_ids) and float32-equal (scores)
to this oracle, at any input partitioning.

This is a deliberately naive scalar implementation — dict postings, full scan
of matching docs, no compression, no pruning — so that agreement with the
distributed engine is meaningful evidence: the two share only the scoring
formula spec (float32 BM25, BM25Similarity.java:188-226) and the analyzer.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from ..functions import bm25
from ..functions.smallfloat import int_to_byte4
from ..plans.query import (
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    MatchAllQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    SynonymQuery,
    TermQuery,
)


class OracleEngine:
    def __init__(self, docs, analyzer, k1: float = 1.2, b: float = 0.75):
        """docs: iterable of (doc_id:int, text:str)."""
        self.analyzer = analyzer
        self.postings: dict = defaultdict(dict)  # term -> {doc_id: tf}
        self.positions: dict = defaultdict(lambda: defaultdict(list))  # term -> doc -> [pos]
        self.norm: dict = {}
        self.texts: dict = {}
        dl_sum = 0
        n = 0
        for doc_id, text in docs:
            toks = analyzer.tokens_with_positions(text)
            self.texts[doc_id] = text
            # field length counts positions, not tokens: overlap tokens
            # (shingles) share their head token's position and are discounted
            # (FieldInvertState numOverlap / discountOverlaps)
            dl = len({p for _, p in toks})
            dl_sum += dl
            n += 1
            self.norm[doc_id] = int(int_to_byte4(np.int64(dl)))
            for tok, pos in toks:
                self.postings[tok][doc_id] = self.postings[tok].get(doc_id, 0) + 1
                self.positions[tok][doc_id].append(pos)
        self.doc_count = n
        self.sum_ttf = dl_sum
        self.avgdl = bm25.avg_field_length(dl_sum, max(n, 1))
        self.cache = bm25.norm_cache(self.avgdl, k1, b)

    # ------------------------------------------------------------ scoring
    def _term_scores(self, term: str, boost: float) -> dict:
        plist = self.postings.get(term)
        if not plist:
            return {}
        w = np.float32(np.float32(boost) * bm25.idf(len(plist), self.doc_count))
        out = {}
        for doc_id, tf in plist.items():
            norm = float(self.cache[self.norm[doc_id]])
            t = np.float32(float(tf) / (float(tf) + norm))
            out[doc_id] = np.float32(w * t)
        return out

    def _evaluate(self, q: Query, boost: float) -> dict:
        if isinstance(q, TermQuery):
            return self._term_scores(q.term, boost * q.boost)
        if isinstance(q, MatchNoDocsQuery):
            return {}
        if isinstance(q, MatchAllQuery):
            return {d: np.float32(boost * q.boost) for d in self.norm}
        if isinstance(q, BoostQuery):
            return self._evaluate(q.query, boost * q.boost)
        if isinstance(q, ConstantScoreQuery):
            child = self._evaluate(q.query, 1.0)
            return {d: np.float32(boost * q.boost) for d in child}
        if isinstance(q, PrefixQuery):
            docs = set()
            for t, plist in self.postings.items():
                if t.startswith(q.prefix):
                    docs |= set(plist)
            return {d: np.float32(boost * q.boost) for d in docs}
        if isinstance(q, SynonymQuery):
            present = [t for t in q.synonyms if t in self.postings]
            if not present:
                return {}
            blended_df = max(len(self.postings[t]) for t in present)
            w = np.float32(np.float32(boost * q.boost) * bm25.idf(blended_df, self.doc_count))
            tf_sum: dict = defaultdict(int)
            for t in present:
                for d, tf in self.postings[t].items():
                    tf_sum[d] += tf
            out = {}
            for d, tf in tf_sum.items():
                norm = float(self.cache[self.norm[d]])
                out[d] = np.float32(w * np.float32(float(tf) / (float(tf) + norm)))
            return out
        if isinstance(q, (PhraseQuery, MultiPhraseQuery)) and q.slop > 0:
            raise NotImplementedError("OracleEngine scores exact phrases only")
        if isinstance(q, PhraseQuery):
            terms = list(q.phrase_terms)
            if any(t not in self.postings for t in terms):
                return {}
            cand = set(self.postings[terms[0]])
            for t in terms[1:]:
                cand &= set(self.postings[t])
            idf_sum = np.float32(sum(float(bm25.idf(len(self.postings[t]), self.doc_count)) for t in terms))
            w = np.float32(np.float32(boost * q.boost) * idf_sum)
            out = {}
            for d in cand:
                toks = self.analyzer.tokens_with_positions(self.texts[d])
                freq = 0
                for j in range(len(toks) - len(terms) + 1):
                    if all(
                        toks[j + m][0] == terms[m] and toks[j + m][1] == toks[j][1] + m for m in range(len(terms))
                    ):
                        freq += 1
                if freq:
                    norm = float(self.cache[self.norm[d]])
                    out[d] = np.float32(w * np.float32(float(freq) / (float(freq) + norm)))
            return out
        if isinstance(q, MultiPhraseQuery):
            slots = [tuple(t for t in slot if t in self.postings) for slot in q.slots]
            if any(not s for s in slots):
                return {}
            cand = set().union(*(set(self.postings[t]) for t in slots[0]))
            for slot in slots[1:]:
                cand &= set().union(*(set(self.postings[t]) for t in slot))
            all_terms = [t for slot in q.slots for t in slot if t in self.postings]
            idf_sum = np.float32(
                sum(float(bm25.idf(len(self.postings[t]), self.doc_count)) for t in all_terms)
            )
            w = np.float32(np.float32(boost * q.boost) * idf_sum)
            offsets = q.slot_positions()
            out = {}
            for d in cand:
                # per slot: position -> occurrences of its distinct alternatives;
                # a start matches when every slot holds one at start + offset
                # (Builder.add(Term[], position) gaps), counted with multiplicity
                at = [Counter(p for t in set(slot) for p in self.positions[t].get(d, ())) for slot in slots]
                freq = sum(
                    math.prod(c[p - offsets[0] + o] for c, o in zip(at, offsets)) for p in at[0]
                )
                if freq:
                    norm = float(self.cache[self.norm[d]])
                    out[d] = np.float32(w * np.float32(float(freq) / (float(freq) + norm)))
            return out
        if isinstance(q, DisjunctionMaxQuery):
            per_doc: dict = defaultdict(list)
            for d_q in q.disjuncts:
                for d, s in self._evaluate(d_q, boost).items():
                    per_doc[d].append(float(s))
            tie = q.tie_breaker
            return {
                d: np.float32(max(ss) + tie * (sum(ss) - max(ss))) for d, ss in per_doc.items()
            }
        if isinstance(q, BooleanQuery):
            return self._eval_boolean(q, boost)
        raise NotImplementedError(type(q).__name__)

    def _eval_boolean(self, q: BooleanQuery, boost: float) -> dict:
        must = [self._evaluate(s, boost) for s in q.by_occur("MUST")]
        should = [self._evaluate(s, boost) for s in q.by_occur("SHOULD")]
        must_not = [self._evaluate(s, 1.0) for s in q.by_occur("MUST_NOT")]
        filters = [self._evaluate(s, 1.0) for s in q.by_occur("FILTER")]
        mm = q.minimum_should_match
        if not must and not filters:
            mm = max(1, mm)
        if not must and not should and not filters:
            return {}

        scores: dict = defaultdict(float)  # double accumulation
        n_must: dict = defaultdict(int)
        n_should: dict = defaultdict(int)
        for m in must:
            for d, s in m.items():
                scores[d] += float(s)
                n_must[d] += 1
        for sh in should:
            for d, s in sh.items():
                scores[d] += float(s)
                n_should[d] += 1
        cands = set(scores)
        if filters and not must and mm <= 0:
            # FILTER is required, so SHOULD stays optional: filter-only docs score 0
            cands |= set(filters[0])
        out = {
            d: np.float32(scores.get(d, 0.0))
            for d in cands
            if n_must[d] == len(must) and (mm <= 0 or n_should[d] >= mm)
        }
        for f in filters:
            out = {d: v for d, v in out.items() if d in f}
        for mn in must_not:
            out = {d: v for d, v in out.items() if d not in mn}
        return out

    def search(self, query: Query, k: int = 10):
        """Top-k as [(doc_id, float32 score)] — ties: score desc, doc_id asc
        (HitQueue.java:76-80)."""
        scored = self._evaluate(query, 1.0)
        ranked = sorted(scored.items(), key=lambda kv: (-float(kv[1]), kv[0]))
        return [(d, float(s)) for d, s in ranked[:k]]

    def count(self, query: Query) -> int:
        return len(self._evaluate(query, 1.0))
