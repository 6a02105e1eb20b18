"""Query-string mini-language (VERDICT r4 #7): ONE string composes the
engine's compound query surface instead of N CLI flags / kwargs.

Frozen grammar (a Lucene-query_string subset, documented divergences
noted):

* clauses are whitespace-separated, except inside double quotes;
* ``+clause``  -> MUST (every analyzer token of the clause is a must
  term — the ES bool-query rule);
* ``-clause``  -> NOT (exclude; positive-wins as everywhere else);
* ``"a b c"``  -> exact phrase; ``"a b c"~N`` -> sloppy phrase, slop N;
* ``term^W``   -> should term with weight W (term_boosts semantics:
  the weight multiplies the term's qtf);
* ``term*``    -> prefix expansion (frozen df-desc/term-asc cap, like
  search_prefix); expansion terms join the should set at weight 1,
  minus any that are already should/must terms (no double count);
* ``term~``    -> fuzzy expansion at 1 edit; ``term~2`` -> 2 edits
  (Lucene defaults ``~`` to 2; this engine's neighborhood tables are
  depth-keyed, so the conservative default is frozen at 1);
* ``field:term`` -> the token scored in THAT field's term space (a
  multi-field index — IndexConfig.extra_fields; ``^W`` composes;
  routed through query.search_fielded, most_fields-shaped combine
  with the plain clauses as text clauses);
* a bare clause -> should term(s) at weight 1.

Composition rules (what one engine job can express — frozen, with
loud errors elsewhere):

* a PHRASE clause composes with ``-`` excludes ONLY (the engine's
  phrase job ranks by occurrence count, not BM25 — mixing would need a
  cross-scoring combine the reference surface doesn't define);
* prefix/fuzzy expansions compose with should/boost/exclude clauses
  but not with MUST clauses (an expansion is a should-disjunction;
  ES's query_string does score-blend these, divergence documented);
* ``^``/``~``/``*`` cannot stack on one clause.

Dispatch (all public API, one scoring job each):

* phrase (+ excludes)            -> query.search_phrase(slop=)
* musts present                  -> one BOOL entry of the batch plan
  (must/should/term-weights/exclude — the only entry kind that
  composes all four), run as a single query (query._search_one);
* otherwise                      -> query.search(term_boosts=) over the
  merged should set (expansions inlined at weight 1).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .analyzer import tokenize_py

_PHRASE_RX = re.compile(r'"([^"]*)"(?:~(\d+))?')


class QueryStringError(ValueError):
    pass


def parse_query_string(qs: str, acfg) -> dict:
    """Parse the mini-language into a clause spec:
    ``{"must": [tok...], "should": {tok: weight}, "exclude": [tok...],
    "prefix": [root...], "fuzzy": [(root, edits)...],
    "phrase": (text, slop) | None}``. Raises QueryStringError on
    malformed input; analyzer tokens only (a clause may analyze to
    several tokens — weights/polarity apply to all of them)."""
    spec = {"must": [], "should": {}, "exclude": [], "prefix": [],
            "fuzzy": [], "phrase": None, "fielded": []}
    rest = []
    pos = 0
    qs = qs or ""
    for m in _PHRASE_RX.finditer(qs):
        rest.append(qs[pos:m.start()])
        if spec["phrase"] is not None:
            raise QueryStringError("at most one phrase clause")
        if not m.group(1).strip():
            raise QueryStringError("empty phrase")
        spec["phrase"] = (m.group(1), int(m.group(2) or 0))
        pos = m.end()
    rest.append(qs[pos:])
    if '"' in "".join(rest):
        raise QueryStringError("unbalanced quote")
    for raw in "".join(rest).split():
        clause = raw
        polarity = ""
        if clause[0] in "+-":
            polarity, clause = clause[0], clause[1:]
        if not clause:
            raise QueryStringError(f"dangling {raw!r}")
        weight, fuzzy, prefix = None, None, False
        m = re.fullmatch(r"(.+)\^(\d+(?:\.\d+)?)", clause)
        if m:
            clause, weight = m.group(1), float(m.group(2))
        m = re.fullmatch(r"(.+)~(\d?)", clause)
        if m:
            clause, fuzzy = m.group(1), int(m.group(2) or 1)
        if clause.endswith("*"):
            clause, prefix = clause[:-1], True
        if sum(x is not None and x is not False
               for x in (weight, fuzzy)) + prefix > 1:
            raise QueryStringError(f"{raw!r}: ^/~/* cannot stack")
        m = re.fullmatch(r"([a-z_][a-z0-9_]*):(.+)", clause)
        if m:
            # Lucene field scope: 'role:user' scores the token in THAT
            # field's term space (search_fielded); ^weight composes,
            # nothing else does
            if polarity or fuzzy is not None or prefix:
                raise QueryStringError(
                    f"{raw!r}: field-scoped clauses carry ^weight only")
            ftoks = tokenize_py(m.group(2), acfg)
            if len(ftoks) != 1:
                raise QueryStringError(
                    f"{raw!r}: field clause must analyze to one token")
            w = 1.0 if weight is None else weight
            if w <= 0:
                raise QueryStringError(f"{raw!r}: weight must be > 0")
            spec["fielded"].append((m.group(1), ftoks[0], w))
            continue
        toks = tokenize_py(clause, acfg)
        if not toks:
            raise QueryStringError(f"{raw!r} has no analyzer tokens")
        if fuzzy is not None or prefix:
            if polarity:
                raise QueryStringError(
                    f"{raw!r}: +/- do not apply to expansions")
            if len(toks) != 1:
                raise QueryStringError(
                    f"{raw!r}: expansion root must be one token")
            if prefix:
                spec["prefix"].append(toks[0])
            else:
                if fuzzy not in (1, 2):
                    raise QueryStringError(f"{raw!r}: ~1 or ~2 only")
                spec["fuzzy"].append((toks[0], fuzzy))
            continue
        if polarity == "+":
            if weight is not None:
                raise QueryStringError(
                    f"{raw!r}: must clauses carry no ^weight")
            spec["must"].extend(toks)
        elif polarity == "-":
            spec["exclude"].extend(toks)
        else:
            w = 1.0 if weight is None else weight
            if w <= 0:
                raise QueryStringError(f"{raw!r}: weight must be > 0")
            for t in toks:
                spec["should"][t] = w
    if spec["phrase"] is not None and (
            spec["must"] or spec["should"] or spec["prefix"]
            or spec["fuzzy"] or spec["fielded"]):
        raise QueryStringError(
            "a phrase clause composes with - excludes only")
    if (spec["prefix"] or spec["fuzzy"]) and spec["must"]:
        raise QueryStringError(
            "expansions (*/~) do not compose with + must clauses")
    if spec["fielded"] and (spec["must"] or spec["prefix"]
                            or spec["fuzzy"]):
        raise QueryStringError(
            "field-scoped clauses compose with plain/^ shoulds and "
            "- excludes only")
    if not (spec["must"] or spec["should"] or spec["prefix"]
            or spec["fuzzy"] or spec["phrase"] or spec["fielded"]):
        raise QueryStringError("empty query string")
    return spec


def search_query_string(index, qs: str, k: int = 10,
                        min_should_match: int = 0,
                        max_expansions: int = 50,
                        doc_filter: str | None = None,
                        dv_filter: str | None = None) -> DataFrame:
    """Execute a mini-language query string (module docstring: grammar,
    frozen composition rules, dispatch). One scoring job; returns the
    standard ``(doc_id, score)`` top-k — except phrase dispatch, which
    returns the phrase job's own ``(doc_id, n_phrase)`` contract."""
    from . import query as Q
    spec = parse_query_string(qs, index.cfg.analyzer)
    excl = " ".join(spec["exclude"]) or None
    if spec["phrase"] is not None:
        text, slop = spec["phrase"]
        if dv_filter is not None:
            raise QueryStringError(
                "phrase dispatch composes with doc_filter, not "
                "dv_filter (engine.query.search_phrase surface)")
        return Q.search_phrase(index, text, k=k, slop=slop,
                               exclude=excl, doc_filter=doc_filter)
    # resolve expansions to stored terms (frozen caps, shared with
    # search_prefix/search_fuzzy); drop ones already in should/must
    exp_terms = []
    for root in spec["prefix"]:
        exp_terms += [r["term"] for r in
                      index.expand_prefix(root, max_expansions)]
    for root, edits in spec["fuzzy"]:
        from .fuzzy import expand_fuzzy
        exp_terms += [r["term"] for r in
                      expand_fuzzy(index, root, edits, max_expansions)]
    seen = set(spec["should"]) | set(spec["must"])
    exp_terms = [t for t in dict.fromkeys(exp_terms) if t not in seen]
    should = dict(spec["should"])
    for t in exp_terms:
        should[t] = 1.0
    if spec["fielded"]:
        # field-scoped dispatch (search_fielded): fielded clauses plus
        # the plain/^ shoulds as text clauses, one most_fields-shaped
        # job; min_should_match has no fielded contract
        if min_should_match:
            raise QueryStringError(
                "min_should_match does not compose with field-scoped "
                "clauses")
        clauses = list(spec["fielded"]) + [
            ("text", t, w) for t, w in should.items()]
        return Q.search_fielded(index, clauses, k=k, exclude=excl,
                                doc_filter=doc_filter,
                                dv_filter=dv_filter)
    if spec["must"]:
        entry = {"id": "qs", "mode": "BOOL",
                 "must": " ".join(spec["must"]),
                 "should": " ".join(should)}
        if min_should_match:
            entry["min_should_match"] = int(min_should_match)
        weights = {t: w for t, w in should.items() if w != 1.0}
        if weights:
            entry["boosts"] = weights
        if excl:
            entry["exclude"] = excl
        if dv_filter:
            entry["dv_filter"] = dv_filter
        return Q._search_one(index, entry, k, doc_filter=doc_filter)
    if not should:
        return Q._empty_topk(index.spark)
    weights = {t: w for t, w in should.items() if w != 1.0}
    return Q.search(index, " ".join(should), k=k, exclude=excl,
                    doc_filter=doc_filter, dv_filter=dv_filter,
                    min_match=min_should_match or None,
                    term_boosts=weights or None)
