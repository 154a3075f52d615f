"""Fluent triple-pattern query builder over the triples DataFrame.

Behavioral reference: the volcano-style chain of /root/reference/src/
rdfquery.js (RDFQuery -> match/filter/bind/limit/orderBy/path -> terminals).
Here the chain builds ONE lazy DataFrame expression tree — Catalyst is the
optimizer the reference never had (SURVEY.md §3 EP2): a BGP chain becomes a
multi-way equi-join that Catalyst reorders/broadcasts; filters push down to
the parquet scan.

A *solution* (ref: dict var->term, rdfquery.js:186-188) is a row whose
columns come in 5-column term groups named after the variable.

    q = RDFQueryDF(spark, triples)
    q.match("?doc", "<http://example.org/kg#mentions>", "?ent") \
     .match("?ent", "rdfs:label", "?label") \
     .order_by("?label").limit(10).df()

Terminals: df() / node_array(var) / node_set(var) / count() / first(var) /
has_solution() — mapping per SURVEY.md §2.2.  The reference's missing
distinct()/union() (TODO at rdfquery.js:276-278) exist here for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import (
    literal_cols,
    subject_decomposed,
    t_triples,
    term_cols,
    term_to_row_parts,
    triple_cols,
)
from ..terms import T, Term, decode_term
from ..validation import Engine, _tt_name


def _as_term(arg) -> Term:
    if isinstance(arg, Term):
        return arg
    if isinstance(arg, str):
        if arg.startswith("<") and arg.endswith(">"):
            return decode_term(arg)
        return T(arg)  # TTL shortcut (qname / boolean / number / plain)
    raise TypeError(f"not a term: {arg!r}")


class RDFQueryDF:
    def __init__(self, spark: SparkSession, data: DataFrame, _sols: DataFrame | None = None,
                 _vars: tuple = ()):  # noqa: D401
        self.spark = spark
        self.data = data
        # StartQuery: one empty solution (ref: rdfquery.js:862-887)
        self.sols = _sols if _sols is not None else spark.range(1).select(F.lit(1).alias("_one"))
        self.vars = _vars

    def _with(self, sols: DataFrame, new_vars: tuple = ()) -> "RDFQueryDF":
        return RDFQueryDF(self.spark, self.data, sols, tuple(dict.fromkeys(self.vars + new_vars)))

    # ------------------------------------------------------------- operators
    def match(self, s, p, o) -> "RDFQueryDF":
        """Triple-pattern match joined against input solutions — the
        index-nested-loop join of MatchQuery (rdfquery.js:655-744) becomes a
        relational equi-join Catalyst plans (broadcast/sort-merge)."""
        trips = t_triples(self.data)
        conds = []
        new_vars: list[tuple[str, str]] = []  # (var, position)
        for pos, arg in (("s", s), ("p", p), ("o", o)):
            t_enc = {"s": "t_s", "p": "t_p", "o": "t_o"}[pos]
            if arg is None:
                continue
            if isinstance(arg, str) and arg.startswith("?"):
                var = arg[1:]
                if var in self.vars:
                    conds.append(self.sols[var] == trips[t_enc])
                else:
                    new_vars.append((var, pos))
            else:
                conds.append(trips[t_enc] == F.lit(_as_term(arg).encoded()))
        cond = None
        for c in conds:
            cond = c if cond is None else cond & c
        joined = self.sols.join(trips, cond, "inner") if cond is not None else self.sols.crossJoin(trips)

        keep = [self.sols[c] for c in self.sols.columns]
        for var, pos in new_vars:
            if pos == "o":
                keep += [trips[c].alias(n) for c, n in zip(term_cols("t_o"), term_cols(var))]
            else:
                keep += subject_decomposed("t_s" if pos == "s" else "t_p", var)
        return self._with(joined.select(*keep), tuple(v for v, _ in new_vars))

    def filter(self, cond) -> "RDFQueryDF":
        """cond: a Column or fn(sols_df)->Column (ref FilterQuery,
        rdfquery.js:591-619)."""
        col = cond(self.sols) if callable(cond) else cond
        return self._with(self.sols.filter(col))

    def filter_equals(self, var: str, term) -> "RDFQueryDF":
        """exprEquals helper (ref: rdfquery.js:531-539)."""
        return self.filter(F.col(var[1:]) == F.lit(_as_term(term).encoded()))

    def filter_not_equals(self, var: str, term) -> "RDFQueryDF":
        return self.filter(F.col(var[1:]) != F.lit(_as_term(term).encoded()))

    def bind(self, var: str, col_fn) -> "RDFQueryDF":
        """Compute a new variable (ref BindQuery, rdfquery.js:556-588).
        col_fn: fn(sols) (or a value) giving a Column that holds a plain
        literal's lexical form, or a 5-tuple of Columns for a full term
        group (enc, v, kind, dt, lang)."""
        v = var[1:]
        sols = self.sols
        res = col_fn(sols) if callable(col_fn) else col_fn
        group = res if isinstance(res, (list, tuple)) else literal_cols(res)
        out = sols.select("*", *[c.alias(n) for c, n in zip(group, term_cols(v))])
        return self._with(out, (v,))

    def order_by(self, var: str) -> "RDFQueryDF":
        """compareTerms ordering (ref OrderByQuery, rdfquery.js:747-777):
        termType name, value, datatype, language — a distributed sort."""
        v = var[1:]
        return self._with(
            self.sols.orderBy(
                _tt_name(F.col(f"{v}_kind")),
                F.col(f"{v}_v"),
                F.coalesce(F.col(f"{v}_dt"), F.lit("")),
                F.coalesce(F.col(f"{v}_lang"), F.lit("")),
            )
        )

    def limit(self, n: int) -> "RDFQueryDF":
        return self._with(self.sols.limit(n))

    def distinct(self) -> "RDFQueryDF":
        """The reference's TODO (rdfquery.js:276-278) — free in Spark."""
        return self._with(self.sols.dropDuplicates(list(self.vars)))

    def union(self, other: "RDFQueryDF") -> "RDFQueryDF":
        return self._with(self.sols.unionByName(other.sols, allowMissingColumns=True))

    def path(self, s, path, o) -> "RDFQueryDF":
        """Property-path traversal (ref PathQuery, rdfquery.js:780-859).
        `s` must be a bound var or term; `o` a fresh var.  Uses the engine's
        path algebra (fixpoint joins for zeroOrMore/oneOrMore)."""
        from ..localgraph import LocalGraph
        from ..shapes import Path as PathAST

        if not (isinstance(o, str) and o.startswith("?")):
            raise ValueError(f"path object must be a variable, got {o!r}")
        ov = o[1:]
        eng = Engine(self.spark, self.data, LocalGraph([]))
        if isinstance(s, str) and s.startswith("?"):
            sv = s[1:]
            focus = self.sols.select(
                *[F.col(c).alias(n) for c, n in zip(term_cols(sv), term_cols("focus"))]
            ).dropDuplicates(["focus"])
        else:
            from ..graph import terms_frame
            focus = terms_frame(self.spark, [_as_term(s)], "focus")
            sv = None
        pv = eng.eval_path(path if isinstance(path, PathAST) else PathAST("pred", pred=_as_term(path).value), focus)
        pv = pv.select(
            F.col("focus").alias("_pf"),
            *[F.col(c).alias(n) for c, n in zip(term_cols("value"), term_cols(ov))],
        )
        if sv is not None:
            joined = self.sols.join(pv, self.sols[sv] == pv["_pf"], "inner").drop("_pf")
        else:
            joined = self.sols.crossJoin(pv.drop("_pf"))
        return self._with(joined, (ov,))

    def construct(self, templates: list) -> DataFrame:
        """Triple-emission terminal (ref: construct, rdfquery.js:311-357):
        each template is an (s, p, o) tuple of '?var' or Terms; returns a
        TRIPLE_SCHEMA DataFrame — the KG triple-emit stage shape."""
        def group(arg) -> list:
            if isinstance(arg, str) and arg.startswith("?"):
                return [F.col(c) for c in term_cols(arg[1:])]
            return [F.lit(x).cast("string") for x in term_to_row_parts(_as_term(arg))]

        parts = [
            self.sols.select(
                *triple_cols(group(s)[0], group(p)[0], group(o), "urn:x-shacl:constructed")
            )
            for s, p, o in templates
        ]
        out = parts[0]
        for pdf in parts[1:]:
            out = out.unionByName(pdf)
        return out.dropDuplicates(["s", "p", "o"])

    # ------------------------------------------------------------- terminals
    def df(self) -> DataFrame:
        return self.sols.select(*[c for v in self.vars for c in term_cols(v)])

    def encoded_df(self) -> DataFrame:
        return self.sols.select(*list(self.vars))

    def node_array(self, var: str) -> list[Term]:
        v = var[1:]
        return [decode_term(r[v]) for r in self.sols.select(v).collect()]

    def node_set(self, var: str) -> list[Term]:
        v = var[1:]
        return [decode_term(r[v]) for r in self.sols.select(v).distinct().collect()]

    def count(self) -> int:
        return self.sols.count()

    def first(self, var: str) -> Term | None:
        v = var[1:]
        rows = self.sols.select(v).limit(1).collect()
        return decode_term(rows[0][v]) if rows else None

    def has_solution(self) -> bool:
        return not self.sols.isEmpty()
