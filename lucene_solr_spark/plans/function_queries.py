"""Solr function-query compiler (``reference solr/core/src/java/org/apache/
solr/search/ValueSourceParser.java`` — the 101 registered parsers).

Compiles the Solr function syntax — nested calls over field refs and
constants, e.g. ``product(recip(n_chars,1,1000,1000), sum(termfreq(text,
'scan'), 1))`` — into a Spark Column plus the per-doc auxiliary joins it
needs.  Catalyst is the expression engine (the reference's
``FunctionValues`` per-doc evaluation becomes whole-stage-codegen'd column
arithmetic); index-coupled functions resolve against the inverted index's
stats/postings tables:

- per-doc: ``termfreq/tf(field, term)`` (postings join, 0 when absent),
  ``norm(field)`` (byte4-decoded stored length from the docs table),
  ``ord/rord(field)`` (dense-rank join over the field's sorted distinct
  values, ``ValueSourceParser.java`` ord/rord rows);
- constants from global stats: ``docfreq``, ``idf`` (BM25 idf), ``ttf``
  (totaltermfreq), ``sumtotaltermfreq``, ``maxdoc``, ``numdocs``, ``pi``,
  ``e``;
- pure arithmetic/logic: ``linear, recip, scale, div, mod, map, abs, sum,
  sub, product, max, min, sqrt, log, pow, exists, not, and, or, xor, if,
  gt, lt, gte, lte, eq, def, concat, strdist, true, false``;
- math family: ``sin, cos, tan, asin, acos, atan, sinh, cosh, tanh, exp,
  ceil, floor, rint, cbrt, deg, rad, atan2, hypot``;
- dates: ``ms(date)``, ``ms(a, b)`` (epoch millis; the zero-arg NOW form is
  rejected as nondeterministic).

``maxdoc`` counts deleted-but-unmerged docs (Lucene maxDoc), ``numdocs``
excludes them.  Unsupported reference functions (geodist/currency/payload/
agg_* etc.) raise ``ValueError`` — spatial & server-side aggregation
plumbing are declared out of scope in COVERAGE.md.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import Column, functions as F

__all__ = ["compile_function", "FunctionContext"]

_TOK = re.compile(
    r"""\s*(?:
        (?P<num>-?\d+(?:\.\d+)?)
      | (?P<str>'[^']*'|"[^"]*")
      | (?P<name>[A-Za-z_][\w.]*)
      | (?P<lp>\()
      | (?P<rp>\))
      | (?P<comma>,)
    )""",
    re.VERBOSE,
)


@dataclass
class _Call:
    name: str
    args: list


def _parse(src: str):
    toks, pos = [], 0
    while pos < len(src):
        m = _TOK.match(src, pos)
        if not m or m.end() == pos:
            raise ValueError(f"bad function syntax at {src[pos:pos+20]!r}")
        pos = m.end()
        for k, v in m.groupdict().items():
            if v is not None:
                toks.append((k, v))
                break

    i = 0

    def expr():
        nonlocal i
        kind, val = toks[i]
        i += 1
        if kind == "num":
            return float(val) if "." in val else int(val)
        if kind == "str":
            return val[1:-1]
        if kind == "name":
            if i < len(toks) and toks[i][0] == "lp":
                i += 1  # consume (
                args = []
                if toks[i][0] != "rp":
                    args.append(expr())
                    while toks[i][0] == "comma":
                        i += 1
                        args.append(expr())
                if toks[i][0] != "rp":
                    raise ValueError(f"expected ) in {src!r}")
                i += 1
                return _Call(val, args)
            return _Call("field", [val])
        raise ValueError(f"unexpected token {val!r} in {src!r}")

    out = expr()
    if i != len(toks):
        raise ValueError(f"trailing tokens in {src!r}")
    return out


class FunctionContext:
    """Resolution context: the searcher's index (+ corpus for scale/ord).

    ``joins`` accumulates per-doc auxiliary DataFrames keyed by column name;
    the caller left-joins them on doc_id before selecting the compiled
    column."""

    def __init__(self, searcher):
        self.searcher = searcher
        self.joins: dict = {}

    # ---- index-coupled resolvers
    def _stats(self, term: str):
        st = self.searcher._term_stats({term})
        return st.get(term, (0, 0))

    def termfreq_col(self, term: str) -> Column:
        key = f"_fq_tf_{term}"
        if key not in self.joins:
            tf_df = (
                self.searcher._matching_postings([term])
                .select("doc_id", F.col("tf").alias(key))
            )
            self.joins[key] = tf_df
        return F.coalesce(F.col(key), F.lit(0))

    def norm_col(self) -> Column:
        key = "_fq_norm"
        if key not in self.joins:
            from ..functions.smallfloat import byte4_to_int
            import numpy as np
            import pandas as pd

            @F.pandas_udf("long")
            def _decode(nb: pd.Series) -> pd.Series:
                return pd.Series(byte4_to_int(nb.to_numpy(dtype=np.int64)))

            self.joins[key] = self.searcher.index.docs.select(
                "doc_id", _decode(F.col("norm_byte")).alias(key)
            )
        return F.col(key)

    def ord_col(self, field: str, reverse: bool = False) -> Column:
        key = f"_fq_{'r' if reverse else ''}ord_{field}"
        if key not in self.joins:
            from ..operators.ranks import global_row_number

            corpus = self.searcher.corpus
            if corpus is None:
                raise ValueError("ord()/rord() need a corpus-bound searcher")
            order = F.desc(field) if reverse else F.asc(field)
            # ordinal of the distinct value set, computed segment-ordinal +
            # offset style (ranks.py) — no single-partition window even when
            # the field is high-cardinality
            ranks = global_row_number(corpus.select(field).distinct(), order, out=key)
            id_col = self.searcher.index.config.id_col
            self.joins[key] = (
                corpus.select(F.col(id_col).alias("doc_id"), field)
                .join(ranks, field)
                .select("doc_id", key)
            )
        return F.col(key)

    def scale_bounds(self, col_src: str):
        corpus = self.searcher.corpus
        if corpus is None:
            raise ValueError("scale() needs a corpus-bound searcher")
        row = corpus.agg(
            F.min(F.expr(col_src)).alias("lo"), F.max(F.expr(col_src)).alias("hi")
        ).collect()[0]
        return float(row["lo"]), float(row["hi"])


def _num(c):
    return F.lit(c) if not isinstance(c, Column) else c


def compile_function(src: str, ctx: FunctionContext) -> Column:
    """Compile a Solr function-query string to a Spark Column (see module
    docstring for the supported registry)."""
    return _compile(_parse(src), ctx)


def _compile(node, ctx: FunctionContext) -> Column:
    if isinstance(node, (int, float)):
        return F.lit(node)
    if isinstance(node, str):
        return F.lit(node)
    assert isinstance(node, _Call)
    name, a = node.name, node.args

    def c(j):
        return _compile(a[j], ctx)

    def field_name(j) -> str:
        n = a[j]
        if isinstance(n, _Call) and n.name == "field" and isinstance(n.args[0], str):
            return n.args[0]
        if isinstance(n, str):
            return n
        raise ValueError(f"{name}: expected a field/term name, got {n!r}")

    sr = ctx.searcher
    if name == "field":
        return F.col(a[0])
    if name == "literal":
        return F.lit(a[0])
    if name == "linear":  # m*x+c
        return c(0) * _num(a[1]) + _num(a[2])
    if name == "recip":  # a/(m*x+b)
        return _num(a[2]) / (c(0) * _num(a[1]) + _num(a[3]))
    if name == "scale":  # (x-min)/(max-min)*(tmax-tmin)+tmin over the index
        lo, hi = ctx.scale_bounds(field_name(0))
        tmin, tmax = float(a[1]), float(a[2])
        span = (hi - lo) or 1.0
        return (c(0) - F.lit(lo)) / F.lit(span) * F.lit(tmax - tmin) + F.lit(tmin)
    if name == "map":  # map(x,min,max,target[,default=x])
        x = c(0)
        cond = (x >= _num(a[1])) & (x <= _num(a[2]))
        dflt = c(4) if len(a) > 4 else x
        return F.when(cond, c(3)).otherwise(dflt)
    if name == "div":
        return c(0) / c(1)
    if name == "mod":
        return c(0) % c(1)
    if name == "abs":
        return F.abs(c(0))
    if name == "sum":
        out = c(0)
        for j in range(1, len(a)):
            out = out + c(j)
        return out
    if name == "sub":
        return c(0) - c(1)
    if name == "product":
        out = c(0)
        for j in range(1, len(a)):
            out = out * c(j)
        return out
    if name == "max":
        return F.greatest(*[c(j) for j in range(len(a))])
    if name == "min":
        return F.least(*[c(j) for j in range(len(a))])
    if name == "sqrt":
        return F.sqrt(c(0))
    if name == "log":
        return F.log10(c(0))  # Solr log() is base-10 (ValueSourceParser)
    if name == "ln":
        return F.log(c(0))
    if name == "pow":
        return F.pow(c(0), c(1))
    if name == "pi":
        return F.lit(math.pi)
    if name == "e":
        return F.lit(math.e)
    # ---- boolean / conditional
    if name == "true":
        return F.lit(True)
    if name == "false":
        return F.lit(False)
    if name == "exists":
        return c(0).isNotNull()
    if name == "not":
        return ~c(0).cast("boolean")
    if name == "and":
        out = c(0).cast("boolean")
        for j in range(1, len(a)):
            out = out & c(j).cast("boolean")
        return out
    if name == "or":
        out = c(0).cast("boolean")
        for j in range(1, len(a)):
            out = out | c(j).cast("boolean")
        return out
    if name == "xor":
        return c(0).cast("boolean") != c(1).cast("boolean")
    if name == "if":
        return F.when(c(0).cast("boolean"), c(1)).otherwise(c(2))
    if name in ("gt", "lt", "gte", "lte", "eq"):
        x, y = c(0), c(1)
        return {"gt": x > y, "lt": x < y, "gte": x >= y, "lte": x <= y, "eq": x == y}[name]
    if name == "def":  # default when null
        return F.coalesce(c(0), c(1))
    if name == "concat":
        return F.concat(*[c(j).cast("string") for j in range(len(a))])
    if name == "strdist":
        # strdist(s1,s2,edit): 1 - levenshtein/max(len) (Lucene
        # LevenshteinDistance.getDistance semantics)
        s1, s2 = c(0).cast("string"), c(1).cast("string")
        return F.lit(1.0) - F.levenshtein(s1, s2) / F.greatest(F.length(s1), F.length(s2))
    # ---- index-coupled
    if name in ("termfreq", "tf"):
        return ctx.termfreq_col(str(a[-1] if not isinstance(a[-1], _Call) else field_name(len(a) - 1)))
    if name == "docfreq":
        return F.lit(ctx._stats(str(a[-1] if not isinstance(a[-1], _Call) else field_name(len(a) - 1)))[0])
    if name == "totaltermfreq":
        return F.lit(ctx._stats(str(a[-1] if not isinstance(a[-1], _Call) else field_name(len(a) - 1)))[1])
    if name == "idf":
        from ..functions import bm25

        df = ctx._stats(str(a[-1] if not isinstance(a[-1], _Call) else field_name(len(a) - 1)))[0]
        return F.lit(float(bm25.idf(df, sr.index.doc_count)))
    if name == "norm":
        return ctx.norm_col()
    if name == "sumtotaltermfreq":
        return F.lit(sr.index.sum_ttf)
    if name == "ord":
        return ctx.ord_col(field_name(0))
    if name == "rord":
        return ctx.ord_col(field_name(0), reverse=True)
    # ---- math family (ValueSourceParser.java single/double-arg parsers)
    _math1 = {
        "sin": F.sin, "cos": F.cos, "tan": F.tan, "asin": F.asin,
        "acos": F.acos, "atan": F.atan, "sinh": F.sinh, "cosh": F.cosh,
        "tanh": F.tanh, "exp": F.exp, "cbrt": F.cbrt,
        "deg": F.degrees, "rad": F.radians,
    }
    if name in _math1:
        return _math1[name](c(0))
    if name in ("ceil", "floor"):
        # Math.ceil/floor return double in the reference
        return (F.ceil if name == "ceil" else F.floor)(c(0)).cast("double")
    if name == "rint":
        return F.call_function("rint", c(0))
    if name == "atan2":
        return F.atan2(c(0), c(1))
    if name == "hypot":
        return F.hypot(c(0), c(1))
    if name == "ms":
        # ms(date) / ms(a, b): epoch millis (DateValueSourceParser); the
        # zero-arg NOW form is intentionally unsupported (nondeterministic)
        if len(a) == 1:
            return F.unix_millis(c(0).cast("timestamp"))
        if len(a) == 2:
            return F.unix_millis(c(0).cast("timestamp")) - F.unix_millis(c(1).cast("timestamp"))
        if len(a) == 0:
            raise ValueError("ms() without arguments is nondeterministic (NOW)")
        raise ValueError(f"ms() takes 1 or 2 arguments, got {len(a)}")
    if name == "maxdoc":
        # maxDoc counts deleted docs until merge reclaims them, like Lucene
        return F.lit(int(sr.index.doc_count))
    if name == "numdocs":
        # stats bind at compile time, like every index-coupled constant here
        # (docfreq/idf collect during compile too — the Weight-construction
        # step); recompile after deletes to observe them
        live = int(sr.index.doc_count)
        if sr.index.deletes is not None:
            live -= int(sr.index.deletes.count())
        return F.lit(live)
    raise ValueError(f"unsupported function query: {name} (see module docstring)")
