"""Field-scoped search over a MultiFieldIndex (reference: every term-
level filter names its field, filter.hpp; scoring stats are per field,
bm25.cpp:45-80).

MultiFieldEngine wires one SearchEngine per field together: `Field`
nodes route their subtree to that field's engine (executor._eval
interception), everything else runs on the DEFAULT field's engine —
including the boolean combinators, whose (doc_id, score) algebra is
field-agnostic because all field indexes share the deterministic doc-id
space (index/multifield.py). Cross-field And/Or therefore score
EXACTLY like the reference's conjunction/disjunction over per-field
filters: per-field BM25 (field-local df/N/avg_dl/norms), merged by
kSum/kMax/kMin/kNoop.

WAND and the one-job shard scan stay per field: a query whose root
is a single Field node is unwrapped onto that field's engine, so
`search(Field("body", Or(terms)), mode="wand")` prunes with body's
block maxima. Mixed-field roots run the exhaustive plan (the
reference equally has no cross-field wanderator)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from iresearch_spark.index.multifield import MultiFieldIndex
from iresearch_spark.search import ast
from iresearch_spark.search.executor import SearchEngine
from iresearch_spark.search.semantics import route_field


class MultiFieldEngine:
    def __init__(self, index: MultiFieldIndex, **engine_kwargs):
        self.index = index
        self.engines = {
            f: SearchEngine(ix, **engine_kwargs)
            for f, ix in index.indexes.items()
        }
        for e in self.engines.values():
            e._field_engines = self.engines
        self.default = self.engines[index.default_field]

    def _route(self, query: ast.Node) -> tuple[SearchEngine, ast.Node]:
        """A single-Field root runs NATIVELY on that field's engine —
        keeps its WAND and shard scan per field."""
        return route_field(query, self.engines, self.default)

    def search(
        self, query: ast.Node, k: int = 10, mode: str = "exhaustive"
    ) -> DataFrame:
        eng, q = self._route(query)
        return eng.search(q, k=k, mode=mode)

    def matches(self, query: ast.Node) -> DataFrame:
        eng, q = self._route(query)
        return eng.matches(q)

    def search_many(self, queries: dict, k: int = 10, mode: str = "exhaustive"):
        """Batched multi-query throughput; queries may mix fields. All
        single-Field-rooted queries of the SAME field batch on that
        field's shared shard scan; the rest run on the default engine."""
        by_field: dict[str, dict] = {}
        for name, q in queries.items():
            eng, qq = self._route(q)
            by_field.setdefault(id(eng), (eng, {}))[1][name] = qq  # type: ignore
        outs = [
            eng.search_many(qs, k=k, mode=mode)
            for eng, qs in by_field.values()
        ]
        df = outs[0]
        for o in outs[1:]:
            df = df.unionByName(o)
        return df

    def top_docs(self, k: int = 10, query=None, columns=None) -> DataFrame:
        """First k live docs in index order (on a SORTED multi-field
        index: sort order). The filter may be field-scoped or a
        cross-field boolean; the docs table read comes from the
        default field's index (ids and sort layout are shared)."""
        if query is not None and isinstance(query, ast.Field):
            eng, q = self._route(query)
            return eng.top_docs(k=k, query=q, columns=columns)
        return self.default.top_docs(k=k, query=query, columns=columns)

    def close(self) -> None:
        for e in self.engines.values():
            e.close()
