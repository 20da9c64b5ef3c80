"""Query IR + parser + normalizer.

Query tree mirrors Lucene's (behavior only):
  TermQuery    [lucene/core/src/java/org/apache/lucene/search/TermQuery.java:44]
  BooleanQuery occurs MUST / SHOULD / MUST_NOT / FILTER
               [search/BooleanClause.java, BooleanQuery.java:40]
  MatchAllDocs / MatchNoDocs [search/MatchAllDocsQuery.java:23, MatchNoDocsQuery.java:23]
  PrefixQuery / TermInSetQuery rewrite to term-dictionary scans
               [search/PrefixQuery.java:29, TermInSetQuery.java:73]

The normalizer implements the BooleanQuery.rewrite fixpoint rules that
Catalyst cannot see (SURVEY.md §4.1, BooleanQuery.java:269-470), including
the SHOULD-duplicate dedup that produces linear qtf weights
[BooleanQuery.java:429-446, BM25Similarity.java:130-136].

Parser syntax (QueryParser.jj subset): free text (implicit OR), AND, OR,
NOT/-, +term, parentheses, field-less terms only. Query-time terms are
normalized with the same analyzer chain [StandardAnalyzer.java:100].
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field, replace
from typing import Dict, List, Sequence, Tuple

from ..analysis import ENGLISH_STOP_WORDS, analyze, analyze_with_positions


@dataclass(frozen=True)
class Term:
    text: str


@dataclass(frozen=True)
class MatchNone:
    pass


@dataclass(frozen=True)
class NormalizedQuery:
    """Flat normalized boolean query (sufficient for AND/OR/NOT over terms).

    - ``required``: terms that MUST match (AND, scoring)
    - ``optional``: (term, qtf) SHOULD clauses; qtf = linear weight from
      duplicate dedup
    - ``excluded``: MUST_NOT terms
    - ``min_should_match``: EFFECTIVE minimumNumberShouldMatch
      (BooleanQuery.java:125): a doc must match at least this many SHOULD
      clause instances (a term's qtf counts each duplicate clause, exactly
      like the un-merged clause list). The value is post-normalization:
      SHOULD clauses folded into MUST terms are auto-credited (every doc
      passing MUST matches them), and a no-MUST query with msm <= 1 stores
      0 (identical match semantics to the default disjunction).
    An empty query (all clauses dropped) is MatchNone.
    """

    required: Tuple[Tuple[str, int], ...] = ()
    optional: Tuple[Tuple[str, int], ...] = ()
    excluded: Tuple[str, ...] = ()
    min_should_match: int = 0
    # True when this flat form was produced by rewriting a NESTED tree
    # (parse() tags it): executors then default to the tree path's scoring
    # dtype (float64, unquantized) so the rewrite never changes scores for
    # the same query string (ADVICE r5). Excluded from eq/hash — the MATCH
    # semantics are identical.
    tree_origin: bool = field(default=False, compare=False)

    @property
    def is_match_none(self) -> bool:
        return not self.required and not self.optional

    @property
    def scoring_terms(self) -> Dict[str, int]:
        d = dict(self.required)
        for t, w in self.optional:
            d[t] = d.get(t, 0) + w
        return d


def normalize(
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    stop_words=ENGLISH_STOP_WORDS,
    pre_analyzed: bool = False,
    min_should_match: int = 0,
    filter: Sequence[str] = (),
) -> NormalizedQuery:
    """Analyze + apply the BooleanQuery.rewrite normalizations.

    Rules (BooleanQuery.java):
      :269-276  empty / pure-negative boolean -> MatchNone
      :289-293  minimumNumberShouldMatch > #SHOULD clauses -> MatchNone
      :344-363  dedup MUST_NOT
      :365-375  term both MUST and MUST_NOT -> MatchNone
      :429-446  duplicate SHOULD terms -> single clause with qtf weight;
                duplicate MUST terms -> qtf weight on the required term

    ``min_should_match`` mirrors BooleanQuery.Builder
    .setMinimumNumberShouldMatch (BooleanQuery.java:125). The merged
    (term, qtf) representation preserves BOTH semantics of the un-merged
    clause list: scores sum identically (BM25 is linear in qtf) and a
    matched term credits qtf clause instances toward msm. A SHOULD clause
    folded into a MUST term is auto-credited here (every doc passing MUST
    matches it), so the stored value is the residual requirement.
    """

    def norm_terms(words: Sequence[str]) -> List[str]:
        if pre_analyzed:
            return [w for w in words if w not in stop_words]
        out: List[str] = []
        for w in words:
            out.extend(analyze(w, stop_words))
        return out

    must_n = norm_terms(must)
    should_n = norm_terms(should)
    not_n = norm_terms(must_not)
    filter_n = norm_terms(filter)

    must_c = Counter(must_n)
    # FILTER terms join the required set with zero scoring weight; a term
    # both MUST and FILTER keeps its MUST qtf (the filter adds no score)
    for t in set(filter_n):
        must_c.setdefault(t, 0)
    # a SHOULD that is also MUST adds its qtf to the required clause; with
    # msm > 0 each folded clause instance is auto-credited (a doc passing
    # MUST necessarily matches it)
    should_c = Counter(should_n)
    folded = 0
    for t in list(should_c):
        if t in must_c:
            n = should_c.pop(t)
            must_c[t] += n
            folded += n
    not_set = tuple(sorted(set(not_n)))

    if any(t in not_set for t in must_c):  # MUST & MUST_NOT -> MatchNone
        return NormalizedQuery()
    # a SHOULD that is also MUST_NOT can never match: zero score and zero
    # msm credit either way, so dropping the clause is semantics-preserving
    should_c = Counter({t: w for t, w in should_c.items() if t not in not_set})

    msm = max(0, int(min_should_match) - folded)
    if msm > sum(should_c.values()):
        # more SHOULD matches demanded than clauses that can still match
        # (BooleanQuery.java:289-293 -> MatchNoDocsQuery)
        return NormalizedQuery()
    if not must_c and msm <= 1:
        msm = 0  # a pure disjunction already demands >= 1 SHOULD match

    return NormalizedQuery(
        required=tuple(sorted(must_c.items())),
        optional=tuple(sorted(should_c.items())),
        excluded=not_set,
        min_should_match=msm,
    )


# ---------------------------------------------------------------------------
# Query tree IR + recursive-descent parser (QueryParser.jj subset)
# ---------------------------------------------------------------------------

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"


@dataclass(frozen=True)
class QTerm:
    term: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class QPhrase:
    terms_off: Tuple[Tuple[str, int], ...]  # (term, offset), offset[0] == 0
    slop: int = 0
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class QFuzzy:
    term: str
    max_edits: int = 2  # FuzzyQuery.defaultMaxEdits [FuzzyQuery.java:52-64]
    boost: float = 1.0
    # Lucene defaults transpositions=true: an adjacent swap is ONE edit
    # (Damerau; FuzzyQuery.java:57, LevenshteinAutomata.java:31)
    transpositions: bool = True


@dataclass(frozen=True)
class QPrefix:
    prefix: str
    boost: float = 1.0


@dataclass(frozen=True)
class QWildcard:
    pattern: str  # with * and ?
    boost: float = 1.0


@dataclass(frozen=True)
class QRange:
    field: str | None  # None -> term range on the indexed text field
    lo: str
    hi: str
    boost: float = 1.0


@dataclass(frozen=True)
class QBool:
    clauses: Tuple[Tuple[str, object], ...]  # (occur, node)
    boost: float = 1.0
    # minimumNumberShouldMatch over ARBITRARY clauses (terms, phrases,
    # nested booleans) — BooleanQuery.Builder.setMinimumNumberShouldMatch
    # (BooleanQuery.java:123); 0 keeps plain SHOULD semantics
    msm: int = 0


class ParseError(ValueError):
    pass


_TOKEN_SPECIALS = set('()"')


def _lex(s: str) -> List[str]:
    """Tokens: ( ) "..."  and whitespace-separated words (which may carry
    +/-/field:/~/^/*/? decorations, handled by the parser)."""
    out: List[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif c in "()":
            out.append(c)
            i += 1
        elif c == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise ParseError(f"unterminated phrase at {i}: {s!r}")
            # keep the trailing ~slop / ^boost attached to the phrase token
            k = j + 1
            while k < n and not s[k].isspace() and s[k] not in _TOKEN_SPECIALS:
                k += 1
            out.append(s[i:k])
            i = k
        elif c == "[":
            j = s.find("]", i + 1)
            if j < 0:
                raise ParseError(f"unterminated range at {i}: {s!r}")
            k = j + 1
            while k < n and not s[k].isspace() and s[k] not in _TOKEN_SPECIALS:
                k += 1
            out.append(s[i:k])
            i = k
        else:
            j = i
            while j < n and not s[j].isspace() and s[j] not in _TOKEN_SPECIALS:
                # a field prefix may be glued to a phrase or range start
                if s[j] in '"[' :
                    break
                j += 1
            if j < n and s[j] in '"[':
                # field:"phrase" / field:[a TO b] — recurse for the tail
                rest = _lex(s[j:])
                out.append(s[i:j] + rest[0])
                out.extend(rest[1:])
                return out
            out.append(s[i:j])
            i = j
    return out


class _Parser:
    """Recursive descent over the classic-QueryParser subset
    [lucene/queryparser/.../classic/QueryParser.jj:256, QueryParserBase.java:62]:

      query   := conj (OR conj)*          OR = SHOULD clauses
      conj    := mod (AND mod)*           AND = MUST clauses
      mod     := [+ | - | NOT] atom [^boost]
      atom    := '(' query ')' | '"' phrase '"' [~slop] | range | word

    with word decorations: field:, trailing ~[edits] (fuzzy), * / ?
    (prefix / wildcard), ^boost; terms are analyzer-normalized
    [StandardAnalyzer.java:100]. Precedence: NOT > AND > OR (so
    ``a OR b AND c`` is ``a OR (b AND c)``).
    """

    def __init__(self, tokens: List[str], stop_words):
        self.toks = tokens
        self.i = 0
        self.stop = stop_words

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse(self):
        node = self.query()
        if self.peek() is not None:
            raise ParseError(f"trailing input at token {self.i}: {self.peek()!r}")
        return node

    def query(self):
        clauses = [self.conj()]
        while True:
            t = self.peek()
            if t == "OR" or t == "||":
                self.take()
                clauses.append(self.conj())
            elif t is not None and t != ")":
                # juxtaposed clauses = implicit OR (default operator,
                # QueryParserBase.Operator.OR)
                clauses.append(self.conj())
            else:
                break
        clauses = [c for c in clauses if c is not None]
        if not clauses:
            return None
        if len(clauses) == 1:
            # a single (occur, node) clause still needs the boolean wrapper
            # (a lone MUST_NOT query is pure-negative -> MatchNone downstream)
            return QBool((clauses[0],)) if isinstance(clauses[0], tuple) else clauses[0]
        out = []
        for c in clauses:
            # a bare negative clause keeps its MUST_NOT occur at this level
            if isinstance(c, tuple):
                out.append(c)
            else:
                out.append((SHOULD, c))
        return QBool(tuple(out))

    def conj(self):
        clauses = [self.mod()]
        while self.peek() == "AND" or self.peek() == "&&":
            self.take()
            clauses.append(self.mod())
        clauses = [c for c in clauses if c is not None]
        if not clauses:
            return None
        if len(clauses) == 1:
            return clauses[0]
        out = []
        for c in clauses:
            if isinstance(c, tuple):  # (occur, node) from +/-/NOT
                out.append(c)
            else:
                out.append((MUST, c))
        return QBool(tuple(out))

    def mod(self):
        t = self.peek()
        if t is None:
            return None
        occur = None
        if t == "NOT" or t == "!":
            self.take()
            occur = MUST_NOT
            t = self.peek()
            if t is None:
                raise ParseError("dangling NOT")
        elif t.startswith("+") and len(t) > 1:
            occur = MUST
            self.toks[self.i] = t[1:]
        elif t.startswith("-") and len(t) > 1:
            occur = MUST_NOT
            self.toks[self.i] = t[1:]
        elif t in ("+", "-") and self.i + 1 < len(self.toks) and self.toks[self.i + 1] == "(":
            # prefixed group: -(a b) / +(a b) — the lexer emits the bare
            # sign before '(' (QueryParser group modifiers); previously the
            # lone sign analyzed to nothing and the NEGATION silently
            # vanished
            self.take()
            occur = MUST if t == "+" else MUST_NOT
        node = self.atom()
        if node is None:
            return None
        if occur is None:
            return node
        return (occur, node)

    def atom(self):
        t = self.peek()
        if t == "(":
            self.take()
            node = self.query()
            if self.peek() != ")":
                raise ParseError("missing closing paren")
            self.take()
            boost = self._trailing_boost()
            if boost != 1.0 and node is not None:
                node = _with_boost(node, boost)
            return node
        if t == ")":
            raise ParseError("unexpected )")
        return self.word(self.take())

    def _trailing_boost(self) -> float:
        t = self.peek()
        if t and t.startswith("^"):
            self.take()
            return float(t[1:])
        return 1.0

    def _analyze_one(self, text: str) -> str | None:
        toks = analyze(text, self.stop)
        if not toks:
            return None  # stopword / empty -> clause dropped (QueryParserBase)
        if len(toks) > 1:
            raise ParseError(f"term {text!r} analyzes to multiple tokens; quote it")
        return toks[0]

    def word(self, t: str):
        boost = 1.0
        m = re.search(r"\^(\d+(?:\.\d+)?)$", t)
        if m:
            boost = float(m.group(1))
            t = t[: m.start()]
        field = None
        fm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$", t)
        if fm:
            field, t = fm.group(1), fm.group(2)
        if t.startswith('"'):
            sm = re.match(r'^"(.*)"(?:~(\d+))?$', t, re.DOTALL)
            if not sm:
                raise ParseError(f"bad phrase token {t!r}")
            pairs = analyze_with_positions(sm.group(1), self.stop)
            if not pairs:
                return None
            base = pairs[0][1]
            terms_off = tuple((w, p - base) for w, p in pairs)
            if len(terms_off) == 1:
                return QTerm(terms_off[0][0], field, boost)
            return QPhrase(terms_off, int(sm.group(2) or 0), field, boost)
        if t.startswith("["):
            rm = re.match(r"^\[([^\s\]]+) TO ([^\s\]]+)\]$", t)
            if not rm:
                raise ParseError(f"bad range token {t!r}")
            return QRange(field, rm.group(1), rm.group(2), boost)
        fz = re.search(r"~(\d*)$", t)
        if fz:
            base = t[: fz.start()]
            term = self._analyze_one(base)
            if term is None:
                return None
            edits = int(fz.group(1)) if fz.group(1) else 2
            return QFuzzy(term, edits, boost)
        if "*" in t or "?" in t:
            low = t.lower()
            if low.endswith("*") and "*" not in low[:-1] and "?" not in low:
                return QPrefix(low[:-1], boost)
            return QWildcard(low, boost)
        term = self._analyze_one(t)
        if term is None:
            return None
        return QTerm(term, field, boost)


def _with_boost(node, boost: float):
    from dataclasses import replace

    return replace(node, boost=node.boost * boost)


def parse_tree(query: str, stop_words=ENGLISH_STOP_WORDS):
    """Full parser -> query tree IR (None = all clauses dropped)."""
    node = _Parser(_lex(query), stop_words).parse()
    return node


def _fold_boost(node, boost: float):
    if boost == 1.0:
        return node
    from dataclasses import replace

    return replace(node, boost=node.boost * boost)


def rewrite(node):
    """BooleanQuery.rewrite analog (search/BooleanQuery.java:540-636):
    structural simplifications that never change matching or scores —
    bottom-up, then at each boolean:

      - a child boolean with ONE positive clause unwraps (its boost folds
        multiplicatively into the clause; the outer occur is kept);
      - an unboosted all-SHOULD child under SHOULD splices its clauses into
        the parent (nested-disjunction flattening — scoring is the clause
        sum either way, and matching is associative);
      - an unboosted all-MUST child under MUST splices (nested
        conjunction);
      - an all-SHOULD child under MUST_NOT rewrites to one MUST_NOT per
        inner clause (De Morgan: NOT(a OR b) == NOT a AND NOT b; exclusion
        ignores scores, so the child's boost is irrelevant).

    The payoff is that associative shapes like ``foo OR (bar OR baz)``
    lower to the flat NormalizedQuery and take the PRUNED block-max path
    instead of the exhaustive tree walk."""
    if not isinstance(node, QBool):
        return node
    out = []
    for occ, child in node.clauses:
        child = rewrite(child)
        if (isinstance(child, QBool) and len(child.clauses) == 1
                and child.clauses[0][0] in (MUST, SHOULD)
                and child.msm <= 1):
            child = _fold_boost(child.clauses[0][1], child.boost)
        if isinstance(child, QBool) and child.msm <= 1:
            # msm <= 1 on an all-SHOULD child is the implicit disjunction
            # semantics — safe to splice; msm >= 2 constrains matching and
            # must stay nested
            occs = {o for o, _ in child.clauses}
            if occ == SHOULD and occs == {SHOULD} and child.boost == 1.0:
                out.extend(child.clauses)
                continue
            if occ == MUST and occs == {MUST} and child.boost == 1.0:
                out.extend(child.clauses)
                continue
            if occ == MUST_NOT and occs == {SHOULD}:
                out.extend((MUST_NOT, c) for _, c in child.clauses)
                continue
        out.append((occ, child))
    rewritten = QBool(tuple(out), boost=node.boost, msm=node.msm)
    if len(out) == 1 and out[0][0] in (MUST, SHOULD) and node.msm <= 1:
        # single positive clause: the wrapper adds nothing (a lone
        # MUST_NOT stays wrapped — pure negation is MatchNone downstream)
        return _fold_boost(out[0][1], node.boost)
    return rewritten


def flatten(node) -> NormalizedQuery | None:
    """Compile a FLAT boolean tree (one level of plain unboosted terms) to
    the NormalizedQuery fast path; None when the tree needs search_tree."""
    if node is None:
        return NormalizedQuery()
    if isinstance(node, QTerm) and node.boost == 1.0 and node.field is None:
        return normalize(should=[node.term], pre_analyzed=True)
    if not isinstance(node, QBool) or node.boost != 1.0:
        return None
    must, should, must_not = [], [], []
    for occ, child in node.clauses:
        if not isinstance(child, QTerm) or child.boost != 1.0 or child.field is not None:
            return None
        (must if occ == MUST else should if occ == SHOULD else must_not).append(child.term)
    return normalize(must, should, must_not, pre_analyzed=True,
                     min_should_match=node.msm)


def mixed_or_clauses(node):
    """Detect the clause shape the executor's clause kernel runs: a
    top-level boolean of plain MUST terms, SHOULD clauses that are plain
    terms or pure AND-of-term groups, and MUST_NOT terms — e.g.
    ``(rare AND hot) OR med`` or ``+hot (rare AND word) mid``. None when
    the tree needs the general evaluator.

    This is the shape BooleanScorerSupplier composes one top-level scorer
    for from clause ScorerSuppliers (BooleanScorerSupplier.java:288-317,
    WANDScorer.java:55 — a MUST group is ONE pseudo-scorer whose max-score
    bound is the sum of its members' bounds).

    Returns (clauses, excluded, msm, must): each SHOULD clause is a
    {term: weight} dict, ``must`` the {term: weight} dict of the MUST
    terms; weights fold every boost (BM25 is linear in the weight). ``msm``
    is the tree's minimumNumberShouldMatch over the SHOULD clauses, each
    crediting one: without MUST, msm <= 1 is the plain disjunction (0);
    with MUST, msm = 1 still demands one SHOULD match. -1 is the MatchNone
    sentinel (msm > #SHOULD clauses)."""
    if not isinstance(node, QBool) or node.boost != 1.0:
        return None
    clauses: List[Dict[str, float]] = []
    excluded: List[str] = []
    must: Dict[str, float] = {}
    for occ, child in node.clauses:
        plain = isinstance(child, QTerm) and child.field is None
        if occ == SHOULD:
            if plain:
                clauses.append({child.term: float(child.boost)})
            elif (isinstance(child, QBool)
                  and child.msm == 0 and child.clauses
                  and all(o == MUST and isinstance(c, QTerm)
                          and c.field is None
                          for o, c in child.clauses)):
                cb = float(child.boost)
                d: Dict[str, float] = {}
                for _, c in child.clauses:
                    d[c.term] = d.get(c.term, 0.0) + cb * float(c.boost)
                clauses.append(d)
            else:
                return None
        elif not plain:
            return None
        elif occ == MUST_NOT:
            excluded.append(child.term)
        else:
            must[child.term] = must.get(child.term, 0.0) + float(child.boost)
    if not clauses and not must:
        return None
    msm = int(node.msm or 0)
    if msm > len(clauses):
        msm = -1  # MatchNone sentinel (msm > #SHOULD clauses)
    elif msm <= 1 and not must:
        msm = 0  # a disjunction already demands >= 1 matching clause
    return clauses, sorted(set(excluded)), msm, must


def parse(query: str, stop_words=ENGLISH_STOP_WORDS):
    """Parse a query string. Returns the NormalizedQuery fast-path form for
    flat term booleans (WAND/top-k pruning path), else the query tree IR
    (executor.search_tree / search_query handle both).

    Shapes that only become flat through rewrite() — e.g.
    ``a OR (b OR c)`` — are tagged ``tree_origin=True``: the pruned path
    then defaults to the TREE path's scoring dtype (float64, unquantized),
    so a query string's 4-decimal scores never shift between releases just
    because the rewriter got smarter (ADVICE r5). Explicit
    quantize=/dtype= arguments still win."""
    raw = parse_tree(query, stop_words)
    direct = flatten(raw)
    if direct is not None:
        return direct
    tree = rewrite(raw)
    flat = flatten(tree)
    if flat is not None:
        return replace(flat, tree_origin=True)
    return tree
