"""Programmatic query model: typed boolean clauses + search request.

Mirrors the reference's query surface where every search is a list
of typed clauses combined into one boolean query
(zulia_query.proto:39-51 QueryType; composition
ZuliaIndex.getQuery:700-774, clause typing generateClause:780-835):

- SCORE_MUST   — must match, contributes BM25 score (Lucene MUST)
- SCORE_SHOULD — optional, contributes score when present (SHOULD)
- FILTER       — must match, NO score contribution (FILTER)
- FILTER_NOT   — must not match (MUST_NOT)
- TERMS        — field ∈ {exact terms}, filter occur (TermInSetQuery,
                 SetQueryHelper.getTermInSetQuery:90-110)
- TERMS_NOT    — negation of TERMS

Boolean semantics follow Lucene BooleanQuery: a doc matches iff it
matches every MUST/FILTER clause, no NOT clause, and — when no
MUST/FILTER exists — at least one scoring SHOULD clause. A query
with only negative clauses gets an implicit match-all, the
reference's negative-query fix-up (ZuliaIndex.java:715-717,934-937).

Clause *text* uses a deliberately small grammar (the reference's
fixture queries are built programmatically through ScoredQuery /
FilterQuery builders, zulia-client .../builder/ScoredQuery.java):
whitespace-separated tokens; a token ``field:term`` scopes the term;
unscoped tokens expand across ``qf`` (the multi-default-field
expansion, ZuliaMultiFieldQueryNodeProcessor.java:36-60). Terms are
analyzed with each target field's analyzer. ``default_op`` AND makes
every term required inside the clause, OR makes them optional with
``mm`` min-should-match (ZuliaGlobalMinMatchProcessor semantics).
"""

from __future__ import annotations

from dataclasses import dataclass, field

SCORE_MUST = "SCORE_MUST"
SCORE_SHOULD = "SCORE_SHOULD"
FILTER = "FILTER"
FILTER_NOT = "FILTER_NOT"
TERMS = "TERMS"
TERMS_NOT = "TERMS_NOT"

_POSITIVE = (SCORE_MUST, FILTER, TERMS)
_NEGATIVE = (FILTER_NOT, TERMS_NOT)
CLAUSE_TYPES = (SCORE_SHOULD, *_POSITIVE, *_NEGATIVE)


def _check_default_op(default_op: str) -> None:
    """AND or OR in any case (the reference's Operator enum); anything
    else would silently combine as OR."""
    if str(default_op).upper() not in ("AND", "OR"):
        raise ValueError(f"default_op must be AND or OR, got {default_op!r}")


@dataclass(frozen=True)
class QueryClause:
    type: str = SCORE_SHOULD
    q: str | None = None  # query text (mini grammar above)
    qf: tuple[str, ...] = ()  # default fields for unscoped terms
    default_op: str = "OR"  # AND | OR combination inside the clause
    mm: int = 0  # min-should-match when default_op == OR
    boost: float = 1.0
    terms: tuple[str, ...] = ()  # TERMS / TERMS_NOT explicit term set
    # per-term boost parallel to ``terms`` (Lucene MoreLikeThis
    # setBoost(true): each derived term is boosted by its selection
    # score over the best term's score). Empty = all 1.0.
    term_boosts: tuple[float, ...] = ()
    # phrase query: ordered words, analyzed per target field
    # ("exact phrase"~N, ZuliaSyntaxParser.jj:171; needs positions)
    phrase: tuple[str, ...] = ()
    slop: int = 0  # proximity slop for the phrase

    def __post_init__(self):
        # an unknown type would silently run as a MUST clause
        if self.type not in CLAUSE_TYPES:
            raise ValueError(f"unknown clause type {self.type!r}; expected one of {', '.join(CLAUSE_TYPES)}")
        _check_default_op(self.default_op)

    @property
    def negative(self) -> bool:
        return self.type in _NEGATIVE


@dataclass(frozen=True)
class DrillDown:
    """One facet drill-down (zulia_query.proto DrillDown:104-110;
    applied ZuliaIndex.getQuery:726-758).

    ``label`` names the facet dimension (our stored facet column);
    each entry of ``values`` is the component path of one drill-down
    term — Lucene's ``FacetLabel(facet.value, facet.path)``, i.e.
    ``(value, *path)``. ``operator`` OR makes the values SHOULD
    clauses with ``mm`` minimum-should-match (0 behaves like 1, the
    pure-SHOULD BooleanQuery default); AND requires every value.
    ``exclude`` adds the whole group as MUST_NOT."""

    label: str
    values: tuple[tuple[str, ...], ...]
    operator: str = "OR"  # OR | AND
    mm: int = 0
    exclude: bool = False


@dataclass(frozen=True)
class LastResult:
    """Search-after cursor: per-shard last (score, doc_id)
    (zulia_query.proto:208-244; ZuliaIndex.java:1034-1104)."""

    by_shard: tuple[tuple[int, float, int], ...] = ()  # (shard, score, doc_id)

    def after_for(self, shard: int) -> tuple[float, int] | None:
        for s, score, doc_id in self.by_shard:
            if s == shard:
                return (score, doc_id)
        return None


@dataclass(frozen=True)
class SearchRequest:
    clauses: tuple[QueryClause, ...] = ()
    # query-string form (ZuliaSyntaxParser surface): when set, ``qs``
    # is parsed by search.parser into a nested boolean tree instead
    # of using ``clauses``; qf/default_op/mm configure the parse
    qs: str | None = None
    qf: tuple[str, ...] = ()
    default_op: str = "OR"
    mm: int = 0
    amount: int = 10
    start: int = 0
    last_result: LastResult | None = None
    # per-field similarity override for this request, e.g.
    # (("content", "TF"),) — FieldSimilarity zulia_query.proto:295-298,
    # dispatched like ShardReader.getSimilarity:537-579
    similarities: tuple[tuple[str, str], ...] = ()
    # query-result cache controls (CacheTest.java; zulia_query.proto
    # Query.pinToCache / realtime): pinned entries are exempt from
    # LRU eviction; realtime searches bypass the cache entirely
    pin_to_cache: bool = False
    realtime: bool = False
    # QueryRequest.searchLabel: names the search in logs and is the
    # REQUIRED unique key of a stored warming search
    # (CreateIndexRequestValidator.java:171-177)
    search_label: str = ""

    def __post_init__(self):
        _check_default_op(self.default_op)


@dataclass(frozen=True)
class TermSpec:
    """One resolved (field, term) leaf inside a clause.

    Leaves are organized two levels deep, mirroring the reference's
    query-tree shape (ZuliaMultiFieldQueryNodeProcessor.java:36-60
    clones each token node per field into an OR group; a token whose
    analyzer emits several terms — camelCase splits — is a
    conjunction within its field):

    - ``group``: the source TOKEN this leaf came from. The clause's
      AND/OR/mm semantics apply at the group level: AND = every
      required group must match; OR = at least ``mm`` groups.
    - ``subgroup``: the target FIELD within the token's multi-field
      expansion. A group matches iff ANY of its subgroups matches; a
      subgroup matches iff ALL of its leaves match (the analyzed
      terms of the token in that field).
    - ``required``: whether the GROUP is an AND member.
    - ``boost``: per-FIELD weight from a ``field^N`` query-field entry
      (ZuliaFlexibleQueryParser.setDefaultFields / FieldAndBoost;
      QueryParserEdgeCaseTest.validFieldBoostTest) — multiplies the
      clause/tree boost at scoring time.
    """

    field: str
    term: str
    required: bool  # the group is a within-clause AND member
    group: int = 0  # source-token id within the clause
    subgroup: int = 0  # field id within the token's expansion
    boost: float = 1.0  # field^N weight


@dataclass(frozen=True)
class PhraseSpec:
    """One resolved phrase leaf: ordered terms in one field.

    Participates in the same group/subgroup algebra as TermSpec (a
    quoted phrase is one token; multi-field expansion ORs the fields).
    Matching needs the positions stream; slop semantics follow
    Lucene's sloppy phrase for 2-term phrases (min |offset(b) -
    offset(a)| ≤ slop, where offset = position - phrase index; an
    out-of-order pair costs 2), exact adjacency for slop=0 at any
    length.
    """

    field: str
    terms: tuple[str, ...]
    slop: int
    required: bool
    group: int = 0
    subgroup: int = 0
    boost: float = 1.0  # field^N weight

    @property
    def stat_keys(self) -> tuple[tuple[str, str], ...]:
        return tuple((self.field, t) for t in self.terms)


@dataclass(frozen=True)
class TermSetSpec:
    """zl:tq(...) — TermInSetQuery (ZuliaTermsInSetQueryNode.java:29-58,
    SetQueryHelper.getTermInSetQuery): constant-score match of docs
    whose field contains ANY of the exact indexed terms (no analysis,
    like Lucene's TermInSetQuery over raw bytes)."""

    field: str
    terms: tuple[str, ...]
    required: bool = False
    group: int = 0
    subgroup: int = 0
    boost: float = 1.0

    @property
    def stat_keys(self) -> tuple[tuple[str, str], ...]:
        return tuple((self.field, t) for t in self.terms)


@dataclass(frozen=True)
class IntervalSpec:
    """Interval function leaf (ZuliaSyntaxParser.jj Function state
    :193-215). Flat form: all ``terms`` must occur in one document,
    in query order when ``ordered``; ``max_gaps ≥ 0`` bounds the
    minimal covering interval's internal gaps (width − k), Lucene
    Intervals.maxgaps semantics. Nested form: ``tree`` holds a
    resolved ``ISrc`` source tree (fn:within, fn:containing,
    fn:atLeast, … — intervals.eval_tree evaluates it per doc) and
    ``terms`` lists its leaf terms for stats/postings planning.
    Matches are constant-scored (boost), a documented simplification
    of Lucene's interval frequency scoring."""

    field: str
    terms: tuple[str, ...]
    ordered: bool
    max_gaps: int = -1  # -1 = unbounded
    required: bool = False
    group: int = 0
    subgroup: int = 0
    tree: object = None  # intervals.ISrc when nested
    boost: float = 1.0

    @property
    def stat_keys(self) -> tuple[tuple[str, str], ...]:
        return tuple((self.field, t) for t in self.terms)


def warming_request(entry: dict) -> SearchRequest:
    """Build the SearchRequest for one stored warming-search entry
    (IndexConfig.warming_searches). Entries are JSON-safe dicts using
    the client API's camelCase keys (ClientIndexConfig
    addWarmingSearch → serialized QueryRequest):

    - ``searchLabel`` (required), ``amount``, ``pinToCache``,
      ``realtime``, ``mm``, ``defaultOp``, ``qf`` (default fields)
    - ``qs``: a whole query string, OR
    - ``query``: a list of clause dicts — ``{"q": "rating:[1 TO 3]",
      "type": "FILTER"}`` like Search.addQuery(new FilterQuery(...))
      (CacheTest.java:51-53); clause keys mirror QueryClause.
    """
    clauses = tuple(
        QueryClause(
            type=c.get("type", SCORE_SHOULD),
            q=c.get("q"),
            qf=tuple(c.get("qf", ())),
            default_op=c.get("defaultOp", c.get("default_op", "OR")),
            mm=int(c.get("mm", 0)),
            boost=float(c.get("boost", 1.0)),
            terms=tuple(c.get("terms", ())),
            phrase=tuple(c.get("phrase", ())),
            slop=int(c.get("slop", 0)),
        )
        for c in entry.get("query", ())
    )
    return SearchRequest(
        clauses=clauses,
        qs=entry.get("qs"),
        qf=tuple(entry.get("qf", ())),
        default_op=entry.get("defaultOp", entry.get("default_op", "OR")),
        mm=int(entry.get("mm", 0)),
        amount=int(entry.get("amount", 10)),
        pin_to_cache=bool(entry.get("pinToCache", entry.get("pin_to_cache", False))),
        realtime=bool(entry.get("realtime", False)),
        search_label=str(entry.get("searchLabel", entry.get("search_label", ""))),
    )


@dataclass(frozen=True)
class ResolvedClause:
    clause: QueryClause
    specs: tuple[TermSpec, ...]

    @property
    def n_groups(self) -> int:
        return len({s.group for s in self.specs})

    @property
    def n_required(self) -> int:
        return len({s.group for s in self.specs if s.required})

    @property
    def min_optional(self) -> int:
        """How many optional GROUPS must match for the clause to match."""
        n_opt = self.n_groups - self.n_required
        if n_opt == 0:
            return 0
        if self.n_required > 0:
            return 0  # SHOULD next to MUST inside a clause: optional
        return max(1, min(self.clause.mm, n_opt))


# characters that mean query-string GRAMMAR, not term text: bool
# groups, ranges, phrases, fuzzy/wildcard/regex/boost operators,
# +/- modifiers, length-meta wraps, comparison ranges
_GRAMMAR_CHARS = set('()[]{}"~^*?/\\<>=|')
_GRAMMAR_WORDS = ("OR", "AND", "NOT", "TO")


def clause_q_is_plain(q: str) -> bool:
    """True when clause text is expressible in the plain token model
    (whitespace-separated ``term`` / ``field:term`` tokens) with
    semantics IDENTICAL to the full query-string grammar: such text
    resolves with :func:`resolve_clause`, without a parse. Either way
    the clause ends up as a subtree of the request's one boolean tree
    (executor._clauses_to_tree). Anything else (bool operators,
    parens, ranges, phrases, fuzzy/wildcard, +/- modifiers, boosts)
    must go through the full parser, the reference's behavior for
    every clause (ZuliaIndex.java:946-964 parses each clause's q with
    ZuliaFlexibleQueryParser). A lone ``:``-containing token keeps
    its raw right side (e.g. ``added:2024-06-17T16:10:00Z``) — the
    mini model passes it to the field analyzer literally, which the
    grammar only reaches via quoting."""
    for token in q.split():
        if token in _GRAMMAR_WORDS:
            return False
        if token.startswith(("+", "-")):
            return False
        if _GRAMMAR_CHARS & set(token):
            return False
    return True


def parse_field_boost(name: str) -> tuple[str, float]:
    """``"title^2"`` → ``("title", 2.0)``; bare names boost 1.0.

    Query-field boost syntax from the reference's field lists
    (ZuliaFlexibleQueryParser.setDefaultFields → FieldAndBoost;
    QueryParserEdgeCaseTest.invalidFieldBoostTest asserts this exact
    message)."""
    if "^" not in name:
        return name, 1.0
    field, _, b = name.partition("^")
    try:
        return field, float(b)
    except ValueError:
        raise ValueError(
            f"Invalid boost <{b}> for query field <{name}>. "
            f"Boost must be a number, for example title^2"
        ) from None


def expand_boosted_fields(names, expand) -> tuple[tuple[str, float], ...]:
    """Query-field entries (possibly ``field^N``, possibly aliases) →
    deduped ((field, boost), ...); an alias's boost applies to every
    expanded target, first occurrence of a field wins."""
    out: dict[str, float] = {}
    for name in names:
        base, boost = parse_field_boost(name)
        for f in expand(base):
            out.setdefault(f, boost)
    return tuple(out.items())


def resolve_clause(
    clause: QueryClause, analyze, default_fields: tuple[str, ...], expand=None
) -> ResolvedClause:
    """Expand clause text/terms into (field, term) leaves.

    ``analyze(field, text) -> list[str]`` runs the field's analyzer.
    ``expand(field) -> tuple[str, ...]`` resolves field-mapping
    aliases (IndexConfig.expand_field); identity when None.
    """
    if clause.boost < 0:
        # the reference's request validator rejects negative boosts
        # (Lucene BoostQuery requires boost >= 0 —
        # BoostAndVectorShouldTest.negativeBoostRejected)
        raise ValueError(f"negative boost {clause.boost} is not allowed")
    if expand is None:
        expand = lambda f: (f,)  # noqa: E731

    def expand_all(fields):
        return expand_boosted_fields(fields, expand)

    specs: list[TermSpec | PhraseSpec] = []
    required = clause.default_op.upper() == "AND"
    group = 0
    if clause.phrase:
        # a phrase is ONE token group, OR'd across the target fields;
        # words are analyzed with each field's chain (so camelCase
        # splitting inside a phrase word yields consecutive terms)
        fields = expand_all(clause.qf or default_fields)
        if not fields:
            raise ValueError("no default fields for phrase clause")
        for sub, (fname, fb) in enumerate(fields):
            terms = tuple(analyze(fname, " ".join(clause.phrase)))
            if terms:
                specs.append(
                    PhraseSpec(fname, terms, clause.slop, required=True, group=0, subgroup=sub, boost=fb)
                )
        return ResolvedClause(clause, tuple(specs))
    if clause.q is None and clause.terms:
        # explicit pre-analyzed term set; for TERMS/TERMS_NOT this is
        # the TermInSetQuery surface, for scoring clauses it's the
        # MLT-style derived-terms OR query (terms are NOT re-analyzed).
        # Every (field, term) is its own group: pure disjunction.
        fields = expand_all(clause.qf or default_fields)
        if clause.term_boosts and len(clause.term_boosts) != len(clause.terms):
            raise ValueError(
                f"term_boosts has {len(clause.term_boosts)} entries for "
                f"{len(clause.terms)} terms"
            )
        for f, fb in fields:
            for i, t in enumerate(clause.terms):
                tb = clause.term_boosts[i] if clause.term_boosts else 1.0
                specs.append(TermSpec(f, t, required=False, group=group, boost=fb * tb))
                group += 1
    elif clause.q is not None:
        if not clause_q_is_plain(clause.q):
            # grammar text reaching the plain-token resolver is a
            # routing bug: the engine parses such clauses with the
            # full query-string parser (executor._clauses_to_tree,
            # matching ZuliaIndex.java:946-964 where every clause's q
            # goes through ZuliaFlexibleQueryParser). Direct callers
            # get a loud failure instead of "OR" / "year:[2020"
            # silently analyzed as literal terms.
            raise ValueError(
                f"clause q {clause.q!r} uses query-string grammar - "
                "resolve it with the full parser (SearchEngine routes "
                "this automatically; standalone use: SearchRequest(qs=...))"
            )
        for token in clause.q.split():
            if ":" in token:
                fname, raw = token.split(":", 1)
                targets = [(f, raw, 1.0) for f in expand(fname)]
            else:
                fields = expand_all(clause.qf or default_fields)
                if not fields:
                    raise ValueError(f"no default fields for unscoped term {token!r}")
                targets = [(f, token, fb) for f, fb in fields]
            emitted = False
            for sub, (fname, raw, fb) in enumerate(targets):
                for term in analyze(fname, raw):
                    specs.append(
                        TermSpec(fname, term, required=required, group=group, subgroup=sub, boost=fb)
                    )
                    emitted = True
            if emitted:
                group += 1
    else:
        raise ValueError("clause needs q= text or terms= set")
    return ResolvedClause(clause, tuple(specs))
