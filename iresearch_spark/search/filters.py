"""Query filter DSL + boolean rewrites (the logical algebra).

Semantics follow the reference filter set (`core/search/*_filter.*`, SURVEY §2.3):
Term/Terms(min_match)/And/Or(min_match)/Not/Prefix/Range/Wildcard/Fuzzy/Phrase/
All/Empty. Rewrites mirror `boolean_filter.cpp`:

- double-negation elimination (:35-44)
- Not(All) -> Empty, Not(Empty) -> All
- And/Or single-child unwrap + Empty propagation (:57-72, 140-156)
- Or min_match normalization (:212-312): min_match<=0 treated as 1 with an
  All-match escape hatch, min_match==n -> And, min_match>n -> Empty

These ~80 lines replace what Catalyst can't see (our filter tree lives above
the DataFrame plan); Catalyst still handles scan pruning underneath.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Filter:
    boost: float = 1.0


@dataclass(frozen=True)
class TermF(Filter):
    field_name: str = "content"
    term: str = ""


@dataclass(frozen=True)
class TermsF(Filter):
    """by_terms: set of terms with minimum-should-match. Elements are plain
    strings or ``(term, boost)`` pairs — the reference's per-term boosts
    (`terms_filter.hpp:33-100` search_terms carry a boost each)."""

    field_name: str = "content"
    terms: tuple = ()
    min_match: int = 1

    def pairs(self) -> tuple[tuple[str, float], ...]:
        """Normalized (term, boost) pairs, deduplicated and term-sorted:
        the reference's search_terms is a std::set ordered by term bytes
        alone (`terms_filter.hpp:54-60`), so a duplicate term is rejected
        and the FIRST boost wins (terms_filter_test.cpp 'duplicate terms
        are not allowed')."""
        out: dict[str, float] = {}
        for t in self.terms:
            term, boost = (t, 1.0) if isinstance(t, str) else (t[0], float(t[1]))
            out.setdefault(term, boost)
        return tuple(sorted(out.items()))


def _check_merge_type(f: Filter) -> None:
    """ScoreMergeType has three values (scorer.hpp:223-237); any other
    merge_type is refused when the filter is built."""
    if f.merge_type not in ("sum", "max", "min"):
        raise ValueError(
            f"{type(f).__name__}.merge_type must be one of sum, max, min; "
            f"got {f.merge_type!r}"
        )


@dataclass(frozen=True)
class And(Filter):
    """Conjunction; ``merge_type`` picks how the matching children's
    scores combine — the reference's And also carries a ScoreMergeType
    that its AndQuery honors (`boolean_filter.hpp`,
    boolean_filter.cpp:300-311 q->prepare(..., merge_type(), ...))."""

    children: tuple[Filter, ...] = ()
    merge_type: str = "sum"

    __post_init__ = _check_merge_type


@dataclass(frozen=True)
class Or(Filter):
    """Disjunction with minimum-should-match; ``merge_type`` picks how
    sub-scores combine (ScoreMergeType {kSum,kMax,kMin}, scorer.hpp:223-237;
    kNoop == unscored sub-filters)."""

    children: tuple[Filter, ...] = ()
    min_match: int = 1
    merge_type: str = "sum"  # sum | max | min

    __post_init__ = _check_merge_type


@dataclass(frozen=True)
class Not(Filter):
    child: Filter = field(default_factory=lambda: Empty())


@dataclass(frozen=True)
class Prefix(Filter):
    field_name: str = "content"
    prefix: str = ""
    scored_terms_limit: int = 1024  # cf. prefix_filter.hpp:30-88


@dataclass(frozen=True)
class Wildcard(Filter):
    """SQL LIKE pattern: % = any run, _ = any single char (wildcard_filter)."""

    field_name: str = "content"
    pattern: str = ""
    scored_terms_limit: int = 1024


@dataclass(frozen=True)
class TermRange(Filter):
    field_name: str = "content"
    min_term: str | None = None
    max_term: str | None = None
    include_min: bool = True
    include_max: bool = True
    scored_terms_limit: int = 1024


@dataclass(frozen=True)
class Fuzzy(Filter):
    """by_edit_distance: Levenshtein <= max_distance (levenshtein_filter);
    ``with_transpositions`` switches to Damerau-Levenshtein (adjacent swap
    counts 1, `core/search/levenshtein_filter.hpp:67`). ``prefix`` is the
    reference's Options::prefix (`levenshtein_filter.hpp:60-66`): matched
    terms must start with it verbatim and the edit distance applies to the
    remainder only. Unlike Prefix/Wildcard/TermRange (whose unscored rest
    still matches), a positive ``scored_terms_limit`` RESTRICTS the match
    set to the top-N terms by (similarity boost, term bytes) — the
    reference's top_terms_collector (`levenshtein_filter.cpp:196-221`);
    0 = match every term the automaton accepts."""

    field_name: str = "content"
    term: str = ""
    max_distance: int = 1
    scored_terms_limit: int = 1024
    with_transpositions: bool = False
    prefix: str = ""


def levenshtein(a: str, b: str) -> int:
    """Plain Levenshtein distance (no transpositions) — the boost input of
    `levenshtein_filter.cpp:47-53` similarity()."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def damerau_levenshtein(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner) — matches the
    transposition-aware distance of the reference's parametric automata and
    DuckDB's ``damerau_levenshtein`` (the oracle twin). Used driver-side to
    post-filter dictionary candidates; terms are short, so the O(|a||b|) DP
    is negligible next to the scan."""
    la, lb = len(a), len(b)
    inf = la + lb
    score = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        score[i + 1][1] = i
    for j in range(lb + 1):
        score[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            i1 = da.get(b[j - 1], 0)
            j1 = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            score[i + 1][j + 1] = min(
                score[i][j] + cost,
                score[i + 1][j] + 1,
                score[i][j + 1] + 1,
                score[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[a[i - 1]] = i
    return score[la + 1][lb + 1]


@dataclass(frozen=True)
class Phrase(Filter):
    """Phrase: one element per position (by_phrase). Elements are plain
    strings (fixed phrase) or multi-term leaves — TermF/TermsF/Prefix/
    Wildcard/TermRange/Fuzzy — for the variadic case
    (`core/search/phrase_filter.hpp:38-150`)."""

    field_name: str = "content"
    terms: tuple = ()
    #: extra position gap before each element (`phrase_filter.hpp:71-84`
    #: push_back offs): slot i sits at position p_i with p_0 = offsets[0],
    #: p_i = p_{i-1} + 1 + offsets[i]; empty = adjacent terms. offsets[i]=1
    #: means exactly one arbitrary token between element i-1 and element i.
    offsets: tuple[int, ...] = ()

    def positions(self) -> tuple[int, ...]:
        offs = tuple(self.offsets) + (0,) * (len(self.terms) - len(self.offsets))
        out, p = [], -1
        for i, o in enumerate(offs[: len(self.terms)]):
            p = (o if i == 0 else p + 1 + o)
            out.append(p)
        # a leading offset is a no-op: the reference subtracts base_offset =
        # first slot's position (`phrase_filter.cpp:273-284`), so matches at
        # the very start of a document are not dropped
        base = out[0] if out else 0
        return tuple(x - base for x in out)


@dataclass(frozen=True)
class NGramSimilarity(Filter):
    """by_ngram_similarity (`core/search/ngram_similarity_filter.hpp:30-60`,
    `ngram_similarity_query.cpp`): docs whose token stream contains a
    positionally-ordered subsequence of the query gram sequence covering at
    least ``threshold`` of it. Match degree d = LCS(query grams, doc stream
    restricted to query grams); matches iff d/len(terms) >= threshold;
    score = boost * d / len(terms)."""

    field_name: str = "content"
    terms: tuple[str, ...] = ()
    threshold: float = 0.7


@dataclass(frozen=True)
class SamePosition(Filter):
    """Terms co-occurring at one identical position (by_same_position,
    `core/search/same_position_filter.cpp:105-182`): a conjunction over
    the (field, term) postings whose match additionally requires a
    position shared by EVERY term (`find_same_position` :81-99); scored
    exactly as that conjunction is — kSum of the per-term scores
    (:176-181), each term carrying its own field/term stats (:214-217)
    and its RAW in-doc frequency (position verification gates matching,
    not freq).

    ``terms`` elements are plain strings (field = ``field_name``) or
    explicit ``(field, term)`` pairs — the reference's search_term =
    pair<field, bytes> (`same_position_filter.hpp:33-38`), so one filter
    can require e.g. a:'700' and c:'7' at the same position across
    DIFFERENT fields."""

    field_name: str = "content"
    terms: tuple[str | tuple[str, str], ...] = ()

    def pairs(self) -> tuple[tuple[str, str], ...]:
        """Normalized (field, term) pairs."""
        return tuple(
            (t[0], t[1]) if isinstance(t, tuple) else (self.field_name, t)
            for t in self.terms
        )


@dataclass(frozen=True)
class ExistsF(Filter):
    """Field-presence filter (by_column_existence,
    `core/search/column_existence_filter.cpp`): docs where the field has at
    least one token (dl > 0); constant score = boost.

    With ``prefix_match`` (the reference's acceptor option,
    `column_existence_filter.hpp:32-42`), ``field_name`` is a NAME PREFIX
    and the filter is the kSum disjunction over every indexed field whose
    name starts with it (`column_existence_filter.cpp:95-127` iterates the
    segment's columns from the prefix seek) — a doc holding n matching
    fields scores n * boost."""

    field_name: str = "content"
    prefix_match: bool = False


@dataclass(frozen=True)
class Proxy(Filter):
    """Cached-filter wrapper (`core/search/proxy_filter.cpp`): the wrapped
    filter's full match set (docs + scores) is materialized and persisted
    by the engine on first execution and reused by later searches — the
    Spark reading of the reference's per-reader cached bitset (a persisted
    DataFrame replaces the bitset; top-k/identity still run per query)."""

    child: Filter = field(default_factory=lambda: Empty())


@dataclass(frozen=True)
class All(Filter):
    pass


@dataclass(frozen=True)
class Empty(Filter):
    pass


def rewrite(f: Filter) -> Filter:
    """Normalize the filter tree (the reference's prepare-time rewrites)."""
    if isinstance(f, Not):
        c = rewrite(f.child)
        if isinstance(c, Not):
            return rewrite(c.child)
        if isinstance(c, All):
            return Empty()
        if isinstance(c, Empty):
            return All(boost=f.boost)
        return Not(boost=f.boost, child=c)
    if isinstance(f, And):
        kids = [rewrite(c) for c in f.children]
        if not kids:
            # an empty boolean prepares to empty (boolean_filter.cpp:60-62)
            return Empty()
        if any(isinstance(c, Empty) for c in kids):
            return Empty()
        # `all` hoisting: All children are no-ops inside a conjunction with
        # other children (boolean_filter.cpp:158-201, boosts not accumulated)
        non_all = [c for c in kids if not isinstance(c, All)]
        if not non_all:
            return All(boost=f.boost)
        if len(non_all) == 1 and not isinstance(non_all[0], Not):
            return non_all[0]
        return And(boost=f.boost, children=tuple(non_all),
                   merge_type=f.merge_type)
    if isinstance(f, Or):
        m = f.min_match
        if m <= 0:
            # only an explicit 0 min_match counts, and it wins over BOTH
            # an empty child list and a net-negated match-all child:
            # Or::prepare short-circuits before group_filters ever runs
            # (boolean_filter.cpp:212-218)
            return All(boost=f.boost)
        kids = []
        for c in f.children:
            k = rewrite(c)
            if isinstance(c, Not) and isinstance(k, Empty):
                # a net-negated match-all empties the WHOLE boolean, not
                # just its branch (group_filters,
                # boolean_filter.cpp:117-121 incl.clear())
                return Empty()
            if not isinstance(k, Empty):
                kids.append(k)
        n = len(kids)
        if m > n or n == 0:
            return Empty()
        if m == n:
            # the conjunction collapse carries the ScoreMergeType along:
            # the reference's AndQuery still receives merge_type()
            # (boolean_filter.cpp:300-311)
            return rewrite(And(boost=f.boost, children=tuple(kids),
                               merge_type=f.merge_type))
        return Or(boost=f.boost, children=tuple(kids), min_match=m,
                  merge_type=f.merge_type)
    if isinstance(f, TermsF):
        if not f.terms:
            return Empty()
        if f.min_match > len(f.pairs()):
            # the reference bounds min_match by the DEDUPED set size
            # (terms_filter.cpp:110-115 size = options.terms.size())
            return Empty()
        if f.min_match <= 0:
            # by_terms::prepare with min_match == 0 and non-empty terms
            # (terms_filter.cpp:156-180): every doc matches; docs holding
            # terms keep the terms score, the all-docs child contributes 0
            return Or(
                boost=f.boost,
                children=(
                    All(boost=0.0),
                    TermsF(field_name=f.field_name, terms=f.terms,
                           min_match=1),
                ),
            )
    if isinstance(f, NGramSimilarity):
        if not f.terms or f.threshold > 1.0:
            return Empty()
        if len(f.terms) == 1 and f.threshold > 0:
            return TermF(boost=f.boost, field_name=f.field_name, term=f.terms[0])
    if isinstance(f, (Phrase, SamePosition)):
        # degenerate 1-term positional filters are plain term queries
        # (phrase_filter.cpp prepares a single fixed term as a term query;
        # same_position_filter_tests.cpp:241-268 asserts { a: 100 } ==
        # by_term)
        if not f.terms:
            return Empty()
        if len(f.terms) == 1 and isinstance(f.terms[0], str):
            return TermF(boost=f.boost, field_name=f.field_name, term=f.terms[0])
        if (
            isinstance(f, SamePosition)
            and len(f.terms) == 1
            and isinstance(f.terms[0], tuple)
        ):
            fld, t = f.terms[0]
            return TermF(boost=f.boost, field_name=fld, term=t)
    return f
