"""Query AST — the filter tree of the reference
(`core/search/filter.hpp:38-99`; catalog README.md:445-462) as plain
Python dataclasses. `prepare`/`execute` live in executor.py; rewrite
rules in planner.py."""

from __future__ import annotations

from dataclasses import dataclass, field


class Node:
    boost: float = 1.0


@dataclass(frozen=True)
class Term(Node):
    """Exact term match (reference `by_term`, term_filter.cpp:92-128)."""

    term: str
    boost: float = 1.0


@dataclass(frozen=True)
class Terms(Node):
    """Match any of a set of terms (reference `by_terms`). Each search
    term may carry its own boost (`by_terms_options::search_terms` is a
    set of {term, boost} pairs, terms_filter.hpp): pass `term_boosts`
    as a {term: boost} mapping; missing terms default to 1.0. The node
    `boost` multiplies on top.

    `min_match` (terms_filter.hpp:63) requires a doc to contain at
    least that many DISTINCT terms of the set; `merge_type` picks how
    per-term scores merge (sum/max/min/noop). Both are planner-rewritten
    onto the boolean Or machinery; the min_match=1 sum default stays
    one leaf."""

    terms: tuple[str, ...]
    boost: float = 1.0
    term_boosts: tuple[tuple[str, float], ...] = ()
    min_match: int = 1
    merge_type: str = "sum"

    def __init__(self, terms, boost: float = 1.0, term_boosts=None,
                 min_match: int = 1, merge_type: str = "sum"):
        if merge_type not in MERGE_TYPES:
            raise ValueError(f"merge_type must be one of {MERGE_TYPES}")
        object.__setattr__(self, "terms", tuple(terms))
        object.__setattr__(self, "boost", boost)
        object.__setattr__(self, "min_match", min_match)
        object.__setattr__(self, "merge_type", merge_type)
        if term_boosts is None:
            pairs = ()
        else:
            items = (
                term_boosts.items()
                if hasattr(term_boosts, "items")
                else term_boosts
            )
            pairs = tuple(sorted((str(t), float(b)) for t, b in items))
        object.__setattr__(self, "term_boosts", pairs)

    def term_boost(self, term: str) -> float:
        for t, b in self.term_boosts:
            if t == term:
                return b
        return 1.0


@dataclass(frozen=True)
class Prefix(Node):
    """Terms starting with a prefix (reference `by_prefix`)."""

    prefix: str
    boost: float = 1.0
    scored_terms_limit: int = 1024


@dataclass(frozen=True)
class Wildcard(Node):
    """SQL-style pattern, %=any run, _=one char (reference `by_wildcard`;
    the bench harness converts * ? to % _, utils/index-search.cpp:379-397)."""

    pattern: str
    boost: float = 1.0
    scored_terms_limit: int = 1024


@dataclass(frozen=True)
class Fuzzy(Node):
    """Levenshtein distance <= d (reference `by_edit_distance`,
    levenshtein_filter.cpp:171-263; bench uses max_terms=50).
    `transpositions=True` uses Damerau (optimal string alignment)
    distance — the reference's with_transpositions option. `prefix`
    is the reference's exact-prefix option (levenshtein_filter.hpp:49):
    candidates must start with it verbatim and the edit distance
    applies only to the remainder vs `term` — the fuzzy-autocomplete
    shape, and a vocabulary-scan narrowing lever."""

    term: str
    distance: int = 1
    max_terms: int = 50
    boost: float = 1.0
    transpositions: bool = False
    prefix: str = ""


@dataclass(frozen=True)
class Range(Node):
    """Term byte-range (reference `by_range`). None = unbounded."""

    min_term: str | None = None
    max_term: str | None = None
    include_min: bool = True
    include_max: bool = True
    boost: float = 1.0
    scored_terms_limit: int = 1024


@dataclass(frozen=True)
class Phrase(Node):
    """Positional phrase (reference `by_phrase`, phrase_query.cpp:49-113).
    Each slot is an already-analyzed token at its consecutive position —
    or, for a VARIADIC phrase (reference phrase_filter.cpp:75-121
    visitor over by_prefix/by_wildcard/by_edit_distance options), a leaf
    node (Prefix/Wildcard/Fuzzy/Terms/Range) whose expansion matches any
    of its terms at that position: Phrase([Prefix("presiden"), "obama"])."""

    terms: tuple  # str | Node per slot
    boost: float = 1.0

    def __init__(self, terms, boost: float = 1.0):
        object.__setattr__(self, "terms", tuple(terms))
        object.__setattr__(self, "boost", boost)


@dataclass(frozen=True)
class SamePosition(Node):
    """All terms at the identical position (reference
    `by_same_position`, same_position_filter.cpp) — a Phrase with zero
    offsets."""

    terms: tuple[str, ...]
    boost: float = 1.0

    def __init__(self, terms, boost: float = 1.0):
        object.__setattr__(self, "terms", tuple(terms))
        object.__setattr__(self, "boost", boost)


@dataclass(frozen=True)
class NgramSimilarity(Node):
    """Ngram-sequence similarity >= threshold (reference
    `by_ngram_similarity`, ngram_similarity_filter.hpp:33-49): `terms`
    is the target's analyzed ngram sequence; a doc matches when the
    longest common subsequence of (query ngrams, doc ngram stream) /
    len(terms) reaches `threshold`; score = boost * that ratio
    (ngram_similarity_query.cpp scores by match ratio)."""

    terms: tuple[str, ...]
    threshold: float = 0.7
    boost: float = 1.0

    def __init__(self, terms, threshold: float = 0.7, boost: float = 1.0):
        object.__setattr__(self, "terms", tuple(terms))
        object.__setattr__(self, "threshold", float(threshold))
        object.__setattr__(self, "boost", boost)


@dataclass(frozen=True)
class AllDocs(Node):
    """Match all docs with constant score = boost (reference `all`)."""

    boost: float = 1.0


@dataclass(frozen=True)
class Empty(Node):
    """Match nothing (reference `filter.hpp:160-164`)."""

    boost: float = 1.0


@dataclass(frozen=True)
class Not(Node):
    """Negation — only meaningful inside And/Or (reference
    boolean_filter.cpp:314-336)."""

    child: Node
    boost: float = 1.0


# ScoreMergeType (reference scorer.hpp:224-235): how children's scores
# combine per matching doc. kSum is the default; kMax = best-field /
# dismax-style; kNoop leaves the score untouched (constant 0).
MERGE_TYPES = ("sum", "max", "min", "noop")


@dataclass(frozen=True)
class And(Node):
    """Conjunction (reference boolean_filter.cpp:140-212); child scores
    merged per `merge_type` (default sum)."""

    children: tuple[Node, ...]
    boost: float = 1.0
    merge_type: str = "sum"

    def __init__(self, children, boost: float = 1.0, merge_type: str = "sum"):
        if merge_type not in MERGE_TYPES:
            raise ValueError(f"merge_type must be one of {MERGE_TYPES}")
        object.__setattr__(self, "children", tuple(children))
        object.__setattr__(self, "boost", boost)
        object.__setattr__(self, "merge_type", merge_type)


@dataclass(frozen=True)
class Or(Node):
    """Disjunction with min_match (reference boolean_filter.cpp:221-312);
    child scores merged per `merge_type` (default sum)."""

    children: tuple[Node, ...]
    min_match: int = 1
    boost: float = 1.0
    merge_type: str = "sum"

    def __init__(self, children, min_match: int = 1, boost: float = 1.0,
                 merge_type: str = "sum"):
        if merge_type not in MERGE_TYPES:
            raise ValueError(f"merge_type must be one of {MERGE_TYPES}")
        object.__setattr__(self, "children", tuple(children))
        object.__setattr__(self, "min_match", min_match)
        object.__setattr__(self, "boost", boost)
        object.__setattr__(self, "merge_type", merge_type)


@dataclass(frozen=True)
class Should(Node):
    """Optional (score-only) clause inside an And — Lucene
    BooleanClause.Occur.SHOULD when MUST clauses are present: the
    wrapped child never constrains the match set, but when it matches
    a doc its score merges in like any sibling. The reference reaches
    the same semantics by folding should-scores into a min_match=0
    disjunction (boolean_filter.cpp:287-312); here a dedicated wrapper
    keeps And's shape. Only valid as a direct child of And."""

    child: Node
    boost: float = 1.0


@dataclass(frozen=True)
class Exists(Node):
    """Docs whose stored column is non-null, constant score = boost
    (reference `by_column_existence`, column_existence_filter.hpp).
    `prefix_match=True` is the reference's ColumnAcceptor prefix mode
    (:38-39): match docs where ANY stored column whose NAME starts
    with `column` is non-null. Requires the index to carry the
    column(s) via build_index(extra_doc_cols=[...])."""

    column: str
    boost: float = 1.0
    prefix_match: bool = False


@dataclass(frozen=True)
class NumericRange(Node):
    """Docs whose stored numeric column lies in [min_val, max_val],
    constant score = boost (reference `by_granular_range`,
    granular_range_filter.cpp — its multi-granularity trie terms exist
    only to make numeric ranges cheap over a term dictionary; on Spark
    a numeric predicate over a stored column IS the cheap path, pushed
    to the parquet scan). Composable inside booleans like any leaf.
    Requires the index to carry the column via extra_doc_cols."""

    column: str
    min_val: float | int | None = None
    max_val: float | int | None = None
    include_min: bool = True
    include_max: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class GranularRange(Node):
    """Docs whose INDEXED numeric field lies in [min_val, max_val] via
    the granular numeric term dictionary (reference
    `by_granular_range` over `numeric_token_stream` terms,
    granular_range_filter.cpp / token_streams.hpp:118-230): the range
    decomposes into O(levels) contiguous per-level intervals over the
    (field, shift, prefix)-sorted num_terms table — each one a
    BETWEEN pushed to the parquet scan (see index/numeric.py).
    Constant score = boost (the reference collects granular terms
    with kNoBoost, granular_range_filter.cpp:84). Requires
    build_index(numeric_fields=[...]); falls back to the stored docs
    column (identical semantics) when the index lacks the dictionary
    but stores the column. NULL (and NaN) values never match, as in
    NumericRange."""

    column: str
    min_val: float | int | None = None
    max_val: float | int | None = None
    include_min: bool = True
    include_max: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class Field(Node):
    """Scope a subtree to a named indexed FIELD of a multi-field index
    (the reference's per-leaf field name: `by_term(field, term)`,
    filter.hpp `field()` on every term-level filter; per-field term
    dictionaries, norms and scoring stats come from field_meta /
    FieldCollector, core/index/field_meta.cpp, bm25.cpp:45-80).

    On Spark each field is its own InvertedIndex sharing the same
    deterministic doc-id space (index/multifield.py), so the wrapped
    subtree evaluates against that field's postings + stats and the
    (doc_id, score) result composes with other fields' results through
    the ordinary boolean nodes: And([Field("title", Term("a")),
    Field("body", Term("b"))])."""

    field: str
    child: Node
    boost: float = 1.0


@dataclass(frozen=True)
class Cached(Node):
    """Caches the wrapped query's materialized (doc_id, score) result
    across repeated executions within one engine (reference
    `proxy_filter`, proxy_filter.cpp — a bitset cache for expensive
    filters re-run per commit)."""

    child: Node
    boost: float = 1.0


@dataclass(frozen=True)
class Nested(Node):
    """Parent/child block join (reference `ByNestedFilter`,
    nested_filter.hpp:33-94): a parent doc matches when the number of
    its child docs matching `child` falls in [min_children,
    max_children]; child scores merge per `merge_type`. Parentage comes
    from a stored `parent_col` on child docs (the reference uses
    doc-id adjacency inside a block; on Spark the relation is an
    explicit column carried via build_index(extra_doc_cols=[...]))."""

    child: Node
    parent_col: str = "parent_id"
    min_children: int = 1
    max_children: int | None = None
    boost: float = 1.0
    merge_type: str = "sum"
