"""Lucene-style query-string parser -> the engine's filter AST.

The reference is a C++ library whose filters are built programmatically
(`core/search/filter.hpp`); its consumers layer a query syntax on top.
This module provides that layer for the Spark engine: the familiar
Lucene query-string subset, parsed into the SAME AST nodes the
programmatic API uses (so parsed queries hit every tested execution
path — WAND, shard scans, multi-field routing — with zero new executor
code).

Supported syntax:
  hello world              bare terms, joined by `default_operator`
  "exact phrase"           Phrase
  wild*card / wi?d         Wildcard (*=any run, ?=one char; trailing-*
                           only becomes Prefix)
  fuzzy~1                  Fuzzy (bare ~ = distance 2, the Lucene default;
                           legacy float form term~0.8 maps to an edit
                           distance like FuzzyQuery#floatToEdits)
  [aaa TO bbb] / {a TO b}  Range (inclusive / exclusive ends, mixable;
                           * = unbounded end)
  term^2.5                 boost (any clause, incl. groups)
  a AND b, a OR b, NOT a   boolean operators (NOT binds tightest, then
                           AND, then OR)
  +must -must_not          Lucene occurs-flags: musts are required, bare
                           clauses next to a '+' stay OPTIONAL score-only
                           shoulds (BooleanQuery semantics — '+apple
                           banana' matches every apple doc, banana only
                           boosts); with no musts, shoulds require >=1
                           match as usual
  title:term title:(a b)   Field scoping (multi-field indexes)
  \\* \\" \\:              backslash-escapes inside terms

Not supported (raises QueryParseError): phrase slop ("a b"~2), regex
(/re/), boolean range math. Pure-negative queries (NOT a) are rejected
at the root, as in Lucene.

Terms are normalized with `analyzer` (default: lowercase) — pass the
index's analyzer chain for full parity with indexed tokens.
"""

from __future__ import annotations

import re
from typing import Callable

from iresearch_spark.search.ast import (
    And,
    Field,
    Fuzzy,
    Node,
    Not,
    Or,
    Phrase,
    Prefix,
    Range,
    Should,
    Wildcard,
)
from iresearch_spark.search.ast import Term as TermNode


class QueryParseError(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""
    \s*(?:
      (?P<lparen>\() |
      (?P<rparen>\)) |
      (?P<range>[\[{]\s*(?:(?:\\.|[^\s\\\]}])+)\s+TO\s+(?:(?:\\.|[^\s\\\]}])+)\s*[\]}]) |
      (?P<quoted>"(?:\\.|[^"\\])*") |
      (?P<plus>\+) |
      (?P<minus>-) |
      (?P<word>(?:\\.|[^\s()^~:"\\])+) |
      (?P<colon>:) |
      (?P<caret>\^(?P<boostval>[0-9]+(?:\.[0-9]+)?)) |
      (?P<tilde>~(?P<fuzzval>[0-9]+(?:\.[0-9]+)?)?)
    )""",
    re.VERBOSE,
)


def _lex(s: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise QueryParseError(f"cannot lex at: {s[pos:pos + 20]!r}")
        pos = m.end()
        for name in ("lparen", "rparen", "range", "quoted", "plus",
                     "minus", "word", "colon"):
            if m.group(name) is not None:
                toks.append((name, m.group(name)))
                break
        else:
            if m.group("caret") is not None:
                toks.append(("boost", m.group("boostval")))
            elif m.group("tilde") is not None:
                toks.append(("fuzzy", m.group("fuzzval") or ""))
    return toks


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


_WILD_ESCAPED = re.compile(r"\\([*?])")


class _Parser:
    def __init__(self, toks, analyzer: Callable[[str], str],
                 default_operator: str, default_fuzzy: int):
        self.toks = toks
        self.i = 0
        self.an = analyzer
        self.default_op = default_operator
        self.default_fuzzy = default_fuzzy

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    # ---- grammar: or_expr > and_expr > clause_seq > unary > primary
    def parse(self) -> Node:
        node = self.or_expr()
        if self.peek()[0] is not None:
            raise QueryParseError(f"trailing input at token {self.peek()!r}")
        if isinstance(node, Not):
            raise QueryParseError("pure-negative query (nothing to match)")
        return node

    def or_expr(self) -> Node:
        parts = [self.and_expr()]
        while self._is_word("OR"):
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else self._group(parts, "or")

    def and_expr(self) -> Node:
        parts = [self.clause_seq()]
        while self._is_word("AND"):
            self.next()
            parts.append(self.clause_seq())
        return parts[0] if len(parts) == 1 else self._group(parts, "and")

    def clause_seq(self) -> Node:
        # adjacent clauses (no explicit operator) join with default_op;
        # +/- occurs-flags force BooleanQuery-style must/should/must_not
        items: list[tuple[str, Node]] = []
        while True:
            kind, _ = self.peek()
            if kind in (None, "rparen") or self._is_word("AND") or self._is_word("OR"):
                break
            if kind == "plus":
                self.next()
                items.append(("must", self.unary()))
            elif kind == "minus":
                self.next()
                items.append(("not", self.unary()))
            else:
                node = self.unary()
                if isinstance(node, Not):
                    items.append(("not", node.child))
                else:
                    items.append(("should", node))
        if not items:
            raise QueryParseError("empty clause")
        if len(items) == 1:
            k, n = items[0]
            # a lone NOT clause flows up as a Not child of the
            # enclosing AND/OR group ("a AND NOT b")
            return Not(n) if k == "not" else n
        musts = [n for k, n in items if k == "must"]
        shoulds = [n for k, n in items if k == "should"]
        must_nots = [n for k, n in items if k == "not"]
        if musts or must_nots:
            if not (musts or shoulds):
                raise QueryParseError("pure-negative group")
            children = list(musts)
            if shoulds:
                grp = Or(shoulds) if len(shoulds) > 1 else shoulds[0]
                if musts:
                    # Lucene BooleanQuery: with MUSTs present, SHOULD
                    # clauses are optional (score-only) — they never
                    # constrain the match set ('+apple banana' matches
                    # every apple doc, banana only boosts)
                    grp = Should(grp)
                children.append(grp)
            children.extend(Not(n) for n in must_nots)
            return children[0] if len(children) == 1 else And(children)
        return self._group(shoulds, self.default_op)

    def unary(self) -> Node:
        if self._is_word("NOT"):
            self.next()
            return Not(self.unary())
        return self.primary()

    def primary(self) -> Node:
        kind, text = self.peek()
        if kind == "lparen":
            self.next()
            node = self.or_expr()
            if self.next()[0] != "rparen":
                raise QueryParseError("missing ')'")
            return self._suffix(node)
        if kind == "quoted":
            self.next()
            body = _unescape(text[1:-1])
            terms = tuple(self.an(t) for t in body.split())
            if self.peek()[0] == "fuzzy":
                raise QueryParseError("phrase slop (~N) is not supported")
            if not terms:
                raise QueryParseError("empty phrase")
            node = (
                TermNode(terms[0]) if len(terms) == 1 else Phrase(terms)
            )
            return self._suffix(node)
        if kind == "range":
            self.next()
            m = re.match(
                r"([\[{])\s*((?:\\.|[^\s\\\]}])+)\s+TO\s+((?:\\.|[^\s\\\]}])+)\s*([\]}])",
                text,
            )
            lo, hi = _unescape(m.group(2)), _unescape(m.group(3))
            node = Range(
                min_term=None if lo == "*" else self.an(lo),
                max_term=None if hi == "*" else self.an(hi),
                include_min=m.group(1) == "[",
                include_max=m.group(4) == "]",
            )
            return self._suffix(node)
        if kind == "word":
            self.next()
            if text[0] in "[{":
                # a well-formed range lexes as its own token; a word
                # starting with an unescaped bracket is a broken one
                # ('[b TO' with no closer) — fail loudly, don't silently
                # index-search for the literal '[b'
                raise QueryParseError(
                    f"unclosed range (or unescaped bracket) at {text!r}"
                )
            # field scoping: word ':' primary
            if self.peek()[0] == "colon":
                self.next()
                child = self.primary()
                return self._suffix(Field(_unescape(text), child))
            return self._suffix(self._leaf(text))
        raise QueryParseError(f"unexpected token {text!r}")

    def _leaf(self, raw: str) -> Node:
        kind, val = self.peek()
        if kind == "fuzzy":
            self.next()
            term = self.an(_unescape(raw))
            if val and "." in val:
                # legacy Lucene float similarity (apple~0.8): map to an
                # edit distance like FuzzyQuery#floatToEdits —
                # (1 - sim) * term_length, capped at 2
                sim = float(val)
                if not 0.0 <= sim < 1.0:
                    raise QueryParseError(
                        f"fuzzy similarity must be in [0, 1): ~{val}"
                    )
                # round at 1e-9 before truncating: (1-0.8)*5 is a hair
                # under 1.0 in binary floating point
                d = min(2, int(round((1.0 - sim) * len(term), 9)))
            else:
                d = int(val) if val else self.default_fuzzy
            return Fuzzy(term, distance=d)
        # wildcard detection on the RAW text (escapes protect literals)
        probe = _WILD_ESCAPED.sub("", raw)
        if "*" in probe or "?" in probe:
            if (
                probe.endswith("*")
                and "*" not in probe[:-1]
                and "?" not in probe
                and raw.endswith("*")
            ):
                return Prefix(self.an(_unescape(raw[:-1])))
            # convert to the engine's SQL-style pattern: escape % _,
            # then * -> %, ? -> _ (escaped \* \? stay literal)
            out, i = [], 0
            while i < len(raw):
                c = raw[i]
                if c == "\\" and i + 1 < len(raw):
                    nxt = raw[i + 1]
                    out.append("\\" + nxt if nxt in "%_" else nxt)
                    i += 2
                elif c == "*":
                    out.append("%")
                    i += 1
                elif c == "?":
                    out.append("_")
                    i += 1
                elif c in "%_":
                    out.append("\\" + c)
                    i += 1
                else:
                    out.append(c)
                    i += 1
            return Wildcard(self.an("".join(out)))
        return TermNode(self.an(_unescape(raw)))

    def _suffix(self, node: Node) -> Node:
        kind, val = self.peek()
        if kind == "boost":
            self.next()
            b = float(val)
            node = _with_boost(node, b)
        return node

    def _is_word(self, w: str) -> bool:
        kind, text = self.peek()
        return kind == "word" and text == w

    @staticmethod
    def _group(parts: list[Node], op: str) -> Node:
        # NOT children are legal only inside booleans; keep them here
        if op == "and":
            pos = [p for p in parts if not isinstance(p, Not)]
            if not pos:
                raise QueryParseError("pure-negative group")
            return And(parts)
        pos = [p for p in parts if not isinstance(p, Not)]
        if not pos:
            raise QueryParseError("pure-negative group")
        return Or(parts)


def _with_boost(node: Node, b: float) -> Node:
    import dataclasses

    return dataclasses.replace(node, boost=node.boost * b)


def parse_query(
    s: str,
    default_operator: str = "or",
    default_fuzzy_distance: int = 2,
    analyzer: Callable[[str], str] | None = None,
) -> Node:
    """Parse a Lucene-style query string into the filter AST. `analyzer`
    normalizes each term (default: lowercase); pass the index's own
    normalizer for full parity with indexed tokens."""
    if default_operator not in ("or", "and"):
        raise QueryParseError("default_operator must be 'or' or 'and'")
    an = analyzer or (lambda t: t.lower())
    toks = _lex(s)
    if not toks:
        raise QueryParseError("empty query")
    return _Parser(toks, an, default_operator, default_fuzzy_distance).parse()
