"""spark-submit entry points (BASELINE.json: "packaged for spark-submit
--py-files on multi-executor clusters").

Usage (cluster — spark-submit takes a FILE, not ``-m``; the repo-root
``submit.py`` launcher wraps this module's ``main``):
    zip -r engine.zip engine
    spark-submit --master <...> --py-files engine.zip submit.py build \
        --input <parquet-or-iceberg> --index-dir /path/idx
    spark-submit ... submit.py search --index-dir /path/idx \
        --query "hot0 rare3" --k 10 --mode OR
    spark-submit ... submit.py bench --index-dir /tmp/idx --convs 20000

Local sandbox: ``python -m engine <cmd> ...`` (session from engine.session).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from .session import get_spark
    return get_spark("engine-cli", master=args.master)


def cmd_build(args) -> int:
    from .build import build_index
    from .config import DEFAULT
    from .fixtures import spark_transcripts
    spark = _spark(args)
    if args.input == "synthetic":
        corpus = spark_transcripts(spark, n_convs=args.convs)
    elif args.input.startswith("table:"):
        corpus = spark.read.table(args.input[len("table:"):])  # Iceberg path
    else:
        corpus = spark.read.parquet(args.input)
    cfg = DEFAULT
    if (args.positions or args.doc_values or args.fuzzy_edits
            or args.extra_fields):
        from dataclasses import replace
        cfg = replace(
            cfg, index_positions=args.positions or cfg.index_positions,
            doc_values=(tuple(args.doc_values.split(","))
                        if args.doc_values else cfg.doc_values),
            extra_fields=(tuple(args.extra_fields.split(","))
                          if args.extra_fields else cfg.extra_fields),
            fuzzy_edits=args.fuzzy_edits or cfg.fuzzy_edits)
    t0 = time.perf_counter()
    idx = build_index(spark, corpus, args.index_dir, cfg)
    wall = time.perf_counter() - t0
    print(json.dumps({"n_docs": idx.n_docs, "avgdl": idx.avgdl,
                      "wall_s": round(wall, 3),
                      "turns_per_sec": round(idx.n_docs / wall, 1)}))
    return 0


def cmd_search(args) -> int:
    from . import query as Q
    from .build import load_index
    bool_q = any(x is not None for x in
                 (args.must, args.should, args.min_should_match))
    if bool_q and args.query is not None:
        print("--must/--should/--min-should-match replace --query "
              "(the ES bool-query form)", file=sys.stderr)
        return 2
    # flags the chosen search form would ignore fail before the session
    # starts; the mini-language carries its own NOT/mode syntax
    if args.query_string and (
            args.query or bool_q or args.dis_query or args.mm_field
            or args.collapse or args.sort_by or args.boost_field
            or args.decay or args.boost_term or args.synonyms
            or args.demote or args.slop or args.after or args.snippets
            or args.exclude or args.mode.upper() != "OR" or args.asc
            or args.tie_breaker or args.match_type != "best_fields"):
        print("--query-string replaces --query and the shaping flags "
              "(--exclude/--mode/--asc/--tie-breaker/--match-type "
              "included); it composes with --k/--filter/--dv-filter/"
              "--min-match/--max-expansions only", file=sys.stderr)
        return 2
    if args.mm_field and (args.boost_field or args.collapse
                          or args.sort_by):
        print("--mm-field does not compose with --boost-field/"
              "--collapse/--sort-by", file=sys.stderr)
        return 2
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    if args.query_string:
        # the r5 mini-language: one string composes must/should/boost/
        # NOT/phrase/prefix/fuzzy (engine/querystring.py grammar)
        from .querystring import QueryStringError, search_query_string
        try:
            top = search_query_string(idx, args.query_string, k=args.k,
                                      min_should_match=args.min_match
                                      or 0,
                                      max_expansions=args.max_expansions,
                                      doc_filter=args.filter,
                                      dv_filter=args.dv_filter)
        except QueryStringError as e:
            print(f"--query-string: {e}", file=sys.stderr)
            return 2
        for r in top.collect():
            print(json.dumps(r.asDict(), default=str))
        return 0
    if not bool_q and args.query is None and not args.dis_query:
        print("--query is required (or use --must/--should/--dis-query)",
              file=sys.stderr)
        return 2
    snippet_query = args.query
    after = None
    if args.after:
        s, _, d = args.after.rpartition(",")
        after = (float(s), int(d))
    boost = None
    if args.boost_field:
        if args.decay:
            if not args.boost_origin:
                print("--decay requires --boost-origin (a frozen "
                      "ISO-8601 UTC instant keeps runs reproducible)",
                      file=sys.stderr)
                return 2
            try:  # epoch seconds accepted as well as ISO-8601
                origin = float(args.boost_origin)
            except ValueError:
                origin = args.boost_origin
            boost = {"field": args.boost_field, "decay": args.decay,
                     "origin": origin,
                     "scale_days": args.boost_scale_days,
                     "decay_value": args.boost_decay_value,
                     "offset_days": args.boost_offset_days,
                     "boost_mode": args.boost_mode,
                     "weight": args.boost_weight}
        else:
            # legacy recency branch: the decay-family flags are only
            # read when --decay is given; a non-default value here
            # would otherwise be silently ignored (ADVICE r4)
            _decay_only = [
                ("--boost-scale-days", args.boost_scale_days, 30.0),
                ("--boost-decay-value", args.boost_decay_value, 0.5),
                ("--boost-offset-days", args.boost_offset_days, 0.0),
                ("--boost-mode", args.boost_mode, "multiply"),
                ("--boost-weight", args.boost_weight, 1.0),
                ("--boost-origin", args.boost_origin, None),
            ]
            _set = [f for f, v, d in _decay_only if v != d]
            if _set:
                print(f"{', '.join(_set)} require --decay (without it "
                      "--boost-field runs the plain recency boost and "
                      "would ignore them)", file=sys.stderr)
                return 2
            if not args.boost_now:
                print("--boost-field requires --boost-now (a frozen "
                      "ISO-8601 UTC instant keeps runs reproducible)",
                      file=sys.stderr)
                return 2
            boost = {"field": args.boost_field,
                     "half_life_days": args.boost_half_life_days,
                     "now": args.boost_now}
    elif args.decay:
        print("--decay requires --boost-field", file=sys.stderr)
        return 2
    mode_up = args.mode.upper()
    if args.slop and mode_up != "PHRASE":
        print("--slop needs --mode PHRASE", file=sys.stderr)
        return 2
    term_boosts = None
    if args.boost_term:
        if mode_up not in ("OR", "AND") or after is not None \
                or args.synonyms:
            print("--boost-term needs plain --mode OR/AND (no --after/"
                  "--synonyms)", file=sys.stderr)
            return 2
        term_boosts = {}
        for spec in args.boost_term:
            t, _, w = spec.partition("=")
            if not _ or not t:
                print(f"--boost-term wants term=weight (got {spec!r})",
                      file=sys.stderr)
                return 2
            term_boosts[t] = float(w)
    if args.min_match and (mode_up != "OR" or after is not None
                           or args.synonyms or args.sort_by):
        print("--min-match needs plain --mode OR (no --after/--synonyms/"
              "--sort-by)", file=sys.stderr)
        return 2
    if (boost or args.sort_by) and mode_up in ("PHRASE", "PREFIX", "FUZZY",
                                               "REGEXP", "PHRASE_PREFIX",
                                               "SPAN_FIRST"):
        print("--boost-*/--sort-by need --mode OR|AND "
              "(docvalue ranking paths)", file=sys.stderr)
        return 2
    if args.dv_filter and mode_up in ("PHRASE", "PREFIX",
                                      "PHRASE_PREFIX", "SPAN_FIRST"):
        print("--dv-filter needs --mode OR|AND|FUZZY "
              "(phrase/prefix queries take --filter)", file=sys.stderr)
        return 2
    if args.sort_by and boost:
        print("--sort-by replaces the score ranking: it composes with "
              "--dv-filter/--exclude/--after but not --boost-*",
              file=sys.stderr)
        return 2
    if args.collapse and (args.sort_by or boost or after is not None
                          or args.synonyms or args.min_match
                          or mode_up not in ("OR", "AND")):
        print("--collapse needs plain --mode OR/AND (no --sort-by/"
              "--boost-*/--after/--synonyms/--min-match)", file=sys.stderr)
        return 2
    if args.demote and (bool_q or args.collapse or args.sort_by
                        or args.synonyms or after is not None
                        or mode_up not in ("OR", "AND")):
        print("--demote needs plain --mode OR/AND (no --must/--collapse/"
              "--sort-by/--synonyms/--after)", file=sys.stderr)
        return 2
    if bool_q:
        if (mode_up != "OR" or after is not None or args.synonyms
                or args.sort_by or boost or term_boosts or args.collapse
                or args.min_match or args.slop):
            print("--must/--should compose with --exclude/--filter/"
                  "--dv-filter/--snippets/--text only", file=sys.stderr)
            return 2
        top = Q.search_bool(idx, args.must or "", args.should or "",
                            k=args.k,
                            min_should_match=args.min_should_match,
                            exclude=args.exclude, doc_filter=args.filter,
                            dv_filter=args.dv_filter)
        snippet_query = " ".join(x for x in (args.must, args.should) if x)
    elif args.collapse:
        top = Q.search_collapsed(idx, args.query, args.collapse, k=args.k,
                                 mode=args.mode, exclude=args.exclude,
                                 doc_filter=args.filter,
                                 dv_filter=args.dv_filter,
                                 term_boosts=term_boosts)
    elif args.sort_by:
        top = Q.search_sorted(idx, args.query, args.sort_by, k=args.k,
                              mode=args.mode, ascending=args.asc,
                              exclude=args.exclude,
                              dv_filter=args.dv_filter, after=after)
    elif args.mm_field:
        if (mode_up != "OR" or after is not None or args.synonyms
                or args.min_match or term_boosts or args.demote
                or args.dis_query or not args.query):
            print("--mm-field needs --query and composes with "
                  "--exclude/--filter/--dv-filter/--tie-breaker/"
                  "--match-type only", file=sys.stderr)
            return 2
        flds = {}
        for spec in args.mm_field:
            f_, _, w = spec.partition("=")
            flds[f_] = float(w) if w else 1.0
        top = Q.search_multi_match(idx, args.query, fields=flds,
                                   k=args.k, match_type=args.match_type,
                                   tie_breaker=args.tie_breaker,
                                   exclude=args.exclude,
                                   doc_filter=args.filter,
                                   dv_filter=args.dv_filter)
    elif args.dis_query:
        if (mode_up != "OR" or after is not None or args.synonyms
                or args.min_match or term_boosts or args.query
                or args.demote):
            print("--dis-query replaces --query and composes with "
                  "--exclude/--filter/--dv-filter only", file=sys.stderr)
            return 2
        top = Q.search_dis_max(idx, args.dis_query, k=args.k,
                               tie_breaker=args.tie_breaker,
                               exclude=args.exclude,
                               doc_filter=args.filter,
                               dv_filter=args.dv_filter)
        snippet_query = " ".join(args.dis_query)
    elif args.mode.upper() == "PHRASE":
        if after is not None:
            print("--after is not supported with --mode PHRASE",
                  file=sys.stderr)
            return 2
        top = Q.search_phrase(idx, args.query, k=args.k,
                              doc_filter=args.filter, exclude=args.exclude,
                              slop=args.slop)
    elif mode_up == "PHRASE_PREFIX":
        if after is not None:
            print("--after is not supported with --mode PHRASE_PREFIX",
                  file=sys.stderr)
            return 2
        top = Q.search_phrase_prefix(idx, args.query, k=args.k,
                                     max_expansions=args.max_expansions,
                                     doc_filter=args.filter,
                                     exclude=args.exclude)
    elif mode_up == "SPAN_FIRST":
        if after is not None:
            print("--after is not supported with --mode SPAN_FIRST",
                  file=sys.stderr)
            return 2
        top = Q.search_span_first(idx, args.query, args.span_n, k=args.k,
                                  doc_filter=args.filter,
                                  exclude=args.exclude)
    elif args.mode.upper() == "PREFIX":
        top = Q.search_prefix(idx, args.query, k=args.k,
                              max_expansions=args.max_expansions,
                              use_wand=False if args.no_wand else "auto",
                              exclude=args.exclude, doc_filter=args.filter,
                              after=after)
        # snippets highlight the EXPANDED terms (a prefix is not a token)
        snippet_query = " ".join(
            r["term"] for r in idx.expand_prefix(
                Q.normalize_prefix(args.query), args.max_expansions))
    elif mode_up == "REGEXP":
        top = Q.search_regexp(idx, args.query, k=args.k,
                              max_expansions=args.max_expansions,
                              use_wand=False if args.no_wand else "auto",
                              exclude=args.exclude, doc_filter=args.filter,
                              dv_filter=args.dv_filter, after=after)
        snippet_query = " ".join(
            r["term"] for r in idx.expand_regexp(args.query,
                                                 args.max_expansions))
    elif mode_up == "FUZZY":
        top = Q.search_fuzzy(idx, args.query, k=args.k,
                             max_edits=args.max_edits,
                             max_expansions=args.max_expansions,
                             use_wand=False if args.no_wand else "auto",
                             exclude=args.exclude, doc_filter=args.filter,
                             dv_filter=args.dv_filter, after=after)
        from .fuzzy import expand_fuzzy
        snippet_query = " ".join(
            r["term"] for r in expand_fuzzy(
                idx, Q.normalize_prefix(args.query), args.max_edits,
                args.max_expansions))
    elif args.synonyms:
        if mode_up != "OR" or after is not None:
            print("--synonyms needs --mode OR (synonym groups make AND "
                  "arity ill-defined) and no --after", file=sys.stderr)
            return 2
        syns = json.loads(args.synonyms)
        top = Q.search_synonyms(idx, args.query, syns, k=args.k,
                                use_wand=False if args.no_wand else "auto",
                                exclude=args.exclude,
                                doc_filter=args.filter,
                                dv_filter=args.dv_filter, boost=boost)
    elif after is not None:
        top = Q.search_after(idx, args.query, k=args.k, mode=args.mode,
                             after=after, exclude=args.exclude,
                             doc_filter=args.filter,
                             dv_filter=args.dv_filter, boost=boost)
    else:
        demote = (args.demote, args.demote_factor) if args.demote else None
        top = Q.search(idx, args.query, k=args.k, mode=args.mode,
                       use_wand=False if args.no_wand else "auto",
                       exclude=args.exclude, doc_filter=args.filter,
                       dv_filter=args.dv_filter, boost=boost,
                       min_match=args.min_match, term_boosts=term_boosts,
                       demote=demote)
    if args.snippets:
        out = Q.materialize_snippets(idx, top, snippet_query,
                                     window=args.snippet_window,
                                     n_fragments=args.fragments)
    elif args.text:
        out = Q.materialize_packed(idx, top)
    else:
        out = top
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_search_batch(args) -> int:
    from . import query as Q
    from .build import load_index
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    with open(args.queries_file) as f:
        qset = json.load(f)
    out = Q.search_batch(idx, qset, k=args.k, doc_filter=args.filter,
                         dv_filter=args.dv_filter)
    if args.snippets:
        out = Q.materialize_snippets_batch(idx, out, qset,
                                           window=args.snippet_window)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_term_vectors(args) -> int:
    """Per-document term vector (the ES `_termvectors` endpoint)."""
    from . import query as Q
    from .build import load_index
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    for r in Q.term_vectors(idx, args.doc_id).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_search_multi(args) -> int:
    """Federated search (engine/multi.py): one BM25 ranking with exact
    global stats across several packed indexes (daily partitions,
    per-tenant indexes, base + delta)."""
    from .build import load_index
    from .multi import search_multi
    spark = _spark(args)
    idxs = [load_index(spark, d) for d in args.index_dirs.split(",")]
    top = search_multi(idxs, args.query, k=args.k, mode=args.mode,
                       use_wand=False if args.no_wand else "auto",
                       exclude=args.exclude)
    for r in top.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_facets(args) -> int:
    from . import query as Q
    from .build import load_index
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    out = Q.facets(idx, args.query, args.fields.split(","),
                   mode=args.mode, doc_filter=args.filter,
                   top_values=args.top_values,
                   max_expansions=args.max_expansions)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_count(args) -> int:
    """Exact match count (the `_count` endpoint) — or, with --stats-field,
    the count/min/max/sum/avg of a stored docvalue column over the match
    set."""
    from .build import load_index
    from .matchops import match_cardinality, match_count, match_stats
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    if args.stats_field and args.cardinality_field:
        print("--stats-field and --cardinality-field are exclusive",
              file=sys.stderr)
        return 2
    if args.cardinality_field:
        out = match_cardinality(idx, args.query, args.cardinality_field,
                                mode=args.mode, exclude=args.exclude,
                                dv_filter=args.dv_filter)
    elif args.stats_field:
        out = match_stats(idx, args.query, args.stats_field,
                          mode=args.mode, exclude=args.exclude,
                          dv_filter=args.dv_filter)
    else:
        out = match_count(idx, args.query, mode=args.mode,
                          exclude=args.exclude, doc_filter=args.filter,
                          dv_filter=args.dv_filter)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_explain(args) -> int:
    """Per-term BM25 score breakdown for one document (query.explain_score
    — tf/dl read from the index, idf from the lexicon)."""
    from . import query as Q
    from .build import load_index
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    for r in Q.explain_score(idx, args.query, args.doc_id).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_suggest(args) -> int:
    """Did-you-mean term suggestions (fuzzy.suggest_terms — per query
    token, the top-n vocabulary terms within max-edits Levenshtein in
    the frozen dist ASC / df DESC / term ASC order)."""
    from .build import load_index
    from .fuzzy import suggest_phrase, suggest_terms
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    if args.phrase:
        out = suggest_phrase(idx, args.query, max_edits=args.max_edits,
                             n=args.n, per_term=args.per_term)
    else:
        out = suggest_terms(idx, args.query, max_edits=args.max_edits,
                            n=args.n)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_percentiles(args) -> int:
    """Exact discrete percentiles of a docvalue column over the match
    set (matchops.match_percentiles)."""
    from .build import load_index
    from .matchops import match_percentiles
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    ps = tuple(float(x) for x in args.ps.split(","))
    out = match_percentiles(idx, args.query, args.field, ps=ps,
                            mode=args.mode, exclude=args.exclude,
                            dv_filter=args.dv_filter, method=args.method,
                            n_bins=args.n_bins)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def _one_row_cmd(args, fn):
    """Shared driver for the single-row match-set agg subcommands."""
    from .build import load_index
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    out = fn(idx, args.query, args.field, mode=args.mode,
             exclude=args.exclude, dv_filter=args.dv_filter)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_mad(args) -> int:
    """Median-absolute-deviation (matchops.match_mad): exact below the
    cardinality guard, bounded-state binned above it / on request."""
    from .build import load_index
    from .matchops import match_mad
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    out = match_mad(idx, args.query, args.field, mode=args.mode,
                    exclude=args.exclude, dv_filter=args.dv_filter,
                    method=args.method, n_bins=args.n_bins)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_missing(args) -> int:
    """Missing-value count over the match set (matchops.match_missing)."""
    from .matchops import match_missing
    return _one_row_cmd(args, match_missing)


def cmd_string_stats(args) -> int:
    """String length stats + character entropy over the match set
    (matchops.match_string_stats)."""
    from .matchops import match_string_stats
    return _one_row_cmd(args, match_string_stats)


def cmd_stats(args) -> int:
    """Index statistics (build.index_stats — manifest scalars + one
    lexicon aggregation)."""
    from .build import index_stats, load_index
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    print(json.dumps(index_stats(idx).first().asDict(), default=str))
    return 0


def cmd_export(args) -> int:
    """Match-set export (matchops.export_matches — every matching doc
    written to parquet, fully distributed; prints the row count)."""
    from .build import load_index
    from .matchops import export_matches
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    cols = tuple(args.columns.split(",")) if args.columns else None
    out = export_matches(idx, args.query, args.out_dir, mode=args.mode,
                         exclude=args.exclude, doc_filter=args.filter,
                         dv_filter=args.dv_filter, columns=cols)
    print(json.dumps({"out_dir": args.out_dir, "n_docs": out.count()}))
    return 0


def cmd_sigterms(args) -> int:
    """Significant-terms aggregation (matchops.significant_terms — JLH
    over the BM25 top-sample foreground vs the corpus background)."""
    from .build import load_index
    from .matchops import significant_terms
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    out = significant_terms(idx, args.query, n=args.n, sample=args.sample,
                            mode=args.mode, exclude=args.exclude,
                            dv_filter=args.dv_filter, min_fg=args.min_fg)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_histogram(args) -> int:
    """Date-histogram over the match set: doc counts per fixed-width
    time bucket of a stored docvalue column; --auto picks the interval
    from the frozen grain ladder (auto_date_histogram)."""
    from .build import load_index
    from .matchops import match_auto_histogram, match_histogram
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    if args.auto:
        if args.having or args.top:
            print("--having/--top need a fixed --interval-s (the "
                  "pipeline runs over one chosen grain)", file=sys.stderr)
            return 2
        out = match_auto_histogram(idx, args.query, args.field,
                                   target_buckets=args.target_buckets,
                                   mode=args.mode, exclude=args.exclude,
                                   dv_filter=args.dv_filter)
    elif args.interval_s is None:
        print("--interval-s is required (or use --auto)", file=sys.stderr)
        return 2
    elif args.having and args.top:
        print("--having and --top are mutually exclusive",
              file=sys.stderr)
        return 2
    elif args.having:
        from .matchops import match_histogram_having
        out = match_histogram_having(idx, args.query, args.field,
                                     args.interval_s, args.having,
                                     mode=args.mode, exclude=args.exclude,
                                     dv_filter=args.dv_filter)
    elif args.top:
        from .matchops import match_histogram_top
        out = match_histogram_top(idx, args.query, args.field,
                                  args.interval_s, n=args.top,
                                  asc=args.asc, mode=args.mode,
                                  exclude=args.exclude,
                                  dv_filter=args.dv_filter)
    else:
        out = match_histogram(idx, args.query, args.field,
                              args.interval_s, mode=args.mode,
                              exclude=args.exclude,
                              dv_filter=args.dv_filter)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_composite(args) -> int:
    """Composite aggregation: one page of the full key-tuple bucket walk
    (pass --after with the previous page's last keys to continue)."""
    from .build import load_index
    from .matchops import match_composite
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    fields = [f.strip() for f in args.fields.split(",") if f.strip()]
    after = None
    if args.after is not None:
        after = json.loads(args.after)
        if not isinstance(after, list):
            print("--after wants a JSON list of the previous page's "
                  "last key values", file=sys.stderr)
            return 2
    out = match_composite(idx, args.query, fields, size=args.size,
                          after=after, mode=args.mode,
                          exclude=args.exclude, dv_filter=args.dv_filter)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_filters(args) -> int:
    """Filters aggregation: named overlapping predicate buckets over the
    match set (zero-count buckets included)."""
    from .build import load_index
    from .matchops import match_filters
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    filters = {}
    for spec in args.bucket or []:
        n, _, p = spec.partition("=")
        if not _ or not n or not p:
            print(f"--bucket wants name=SQL_PREDICATE (got {spec!r})",
                  file=sys.stderr)
            return 2
        filters[n] = p
    out = match_filters(idx, args.query, filters, mode=args.mode,
                        exclude=args.exclude, dv_filter=args.dv_filter)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_percolate_register(args) -> int:
    """Register saved queries as a percolator index (engine/percolate)."""
    from .percolate import register_queries
    spark = _spark(args)
    with open(args.queries_file) as f:
        queries = json.load(f)
    qidx = register_queries(spark, queries, args.index_dir)
    print(json.dumps({"registered": len(queries),
                      "index_dir": qidx.index_dir}))
    return 0


def cmd_percolate(args) -> int:
    """Which registered queries match this document?"""
    from .build import load_index
    from .percolate import percolate
    spark = _spark(args)
    qidx = load_index(spark, args.index_dir)
    for r in percolate(qidx, args.text).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_reindex(args) -> int:
    """Rebuild under a new IndexConfig from the stored corpus (the ES
    _reindex / mapping-change operation)."""
    from .build import load_index, reindex
    from .config import AnalyzerConfig, IndexConfig
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    acfg = AnalyzerConfig(
        stopwords=tuple(w for w in (args.stopwords or "").split(",") if w),
        stem=args.stem)
    cfg = IndexConfig(
        index_positions=args.positions,
        doc_values=tuple(c for c in (args.doc_values or "").split(",")
                         if c),
        fuzzy_edits=args.fuzzy_edits,
        analyzer=acfg)
    out = reindex(idx, args.out_dir, cfg)
    print(json.dumps({"out_dir": out.index_dir,
                      "n_docs": int(out.n_docs)}))
    return 0


def cmd_mlt(args) -> int:
    """More-like-this: docs most similar to --doc-id (frozen tf x idf
    term selection, BM25 OR scoring, source excluded)."""
    from . import query as Q
    from .build import load_index
    from .matchops import mlt_terms, more_like_this
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    if args.show_terms:
        print(json.dumps({"terms": mlt_terms(idx, args.doc_id,
                                             args.max_terms)}))
    top = more_like_this(idx, args.doc_id, k=args.k,
                         max_terms=args.max_terms, doc_filter=args.filter,
                         dv_filter=args.dv_filter)
    out = Q.materialize_packed(idx, top) if args.text else top
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_delete(args) -> int:
    """Tombstone docs by SQL predicate or explicit id list (two-phase:
    stats stay frozen until ``purge``)."""
    from .build import load_index
    from .deletes import delete_docs, delete_ids
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    if bool(args.filter) == bool(args.ids):
        print("delete: give exactly one of --filter or --ids",
              file=sys.stderr)
        return 2
    if args.filter:
        n = delete_docs(idx, args.filter)
    else:
        n = delete_ids(idx, [int(x) for x in args.ids.split(",")])
    print(json.dumps({"newly_deleted": n, "n_deleted": idx.n_deleted,
                      "n_docs": idx.n_docs}))
    return 0


def cmd_purge(args) -> int:
    """Physically drop tombstoned docs (segment rewrite + lexicon/stats
    rebuild over the live corpus); doc_ids are never renumbered."""
    from .build import load_index
    from .deletes import purge_deletes
    spark = _spark(args)
    idx = load_index(spark, args.index_dir)
    before = idx.n_deleted
    t0 = time.perf_counter()
    idx2 = purge_deletes(idx)
    print(json.dumps({"purged": before, "n_docs": idx2.n_docs,
                      "n_ids": idx2.n_ids, "avgdl": idx2.avgdl,
                      "wall_s": round(time.perf_counter() - t0, 3)}))
    return 0


def cmd_bench(args) -> int:
    import os
    import subprocess
    env = dict(os.environ, SPARK_GRAFT_BENCH_CONVS=str(args.convs))
    return subprocess.call([sys.executable, "bench.py"], env=env)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="engine")
    p.add_argument("--master", default=None,
                   help="spark master override (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build", help="build a packed index")
    b.add_argument("--input", required=True,
                   help="parquet dir | table:<catalog.db.tbl> | synthetic")
    b.add_argument("--index-dir", required=True)
    b.add_argument("--convs", type=int, default=2000,
                   help="synthetic corpus size (conversations)")
    b.add_argument("--positions", action="store_true",
                   help="store the positions stream (phrase queries)")
    b.add_argument("--fuzzy-edits", type=int, default=0,
                   help="build the SymSpell deletion-neighborhood table "
                        "up to this edit depth (enables fuzzy search "
                        "and the suggest endpoints)")
    b.add_argument("--doc-values", default=None,
                   help="comma-separated corpus columns to store as "
                        "per-shard docvalues (query-time --dv-filter / "
                        "--boost-field / --sort-by), e.g. role,ts")
    b.add_argument("--extra-fields", default=None,
                   help="comma-separated STRING corpus columns to index "
                        "as their own term spaces (multi_match — "
                        "search --mm-field), e.g. role,tool")
    b.set_defaults(fn=cmd_build)
    s = sub.add_parser("search", help="BM25 top-k search")
    s.add_argument("--index-dir", required=True)
    s.add_argument("--query", default=None,
                   help="query text (required unless --must/--should "
                        "are given — the ES bool-query form)")
    s.add_argument("--must", default=None,
                   help="bool query: terms ALL required (scores count)")
    s.add_argument("--should", default=None,
                   help="bool query: optional terms that add score")
    s.add_argument("--min-should-match", type=int, default=None,
                   help="bool query: distinct --should terms required "
                        "(default 0 with --must, else 1)")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--mode", default="OR",
                   choices=["OR", "AND", "PHRASE", "PREFIX", "FUZZY",
                            "REGEXP", "PHRASE_PREFIX", "SPAN_FIRST",
                            "or", "and", "phrase", "prefix",
                            "fuzzy", "regexp", "phrase_prefix",
                            "span_first"])
    s.add_argument("--span-n", type=int, default=5,
                   help="SPAN_FIRST: match within the first N positions")
    s.add_argument("--dis-query", action="append", metavar="QUERY",
                   help="dis_max subquery (repeat >= 2 times); ranks by "
                        "the best subquery + --tie-breaker * the rest")
    s.add_argument("--tie-breaker", type=float, default=0.0)
    s.add_argument("--query-string", default=None, metavar="QS",
                   help="mini-language query, e.g. '+a b -c \"d e\"~2 "
                        "f^2 g~1 h*' (engine/querystring.py grammar); "
                        "replaces --query and the shaping flags")
    s.add_argument("--mm-field", action="append", metavar="FIELD[=BOOST]",
                   help="multi_match over an extra_fields index (repeat "
                        "per field, e.g. --mm-field text --mm-field "
                        "role=2); ranks per --match-type")
    s.add_argument("--match-type", default="best_fields",
                   choices=["best_fields", "most_fields", "cross_fields"])
    s.add_argument("--synonyms",
                   help='query-time synonym groups as JSON, e.g. '
                        '\'{"fast": ["quick"]}\' (OR mode only)')
    s.add_argument("--max-expansions", type=int, default=64,
                   help="PREFIX/FUZZY mode: expansion cap (PREFIX: "
                        "highest-df terms kept; FUZZY: closest first)")
    s.add_argument("--max-edits", type=int, default=1,
                   help="FUZZY mode: Levenshtein radius (needs an index "
                        "with fuzzy_edits >= this)")
    s.add_argument("--no-wand", action="store_true")
    s.add_argument("--slop", type=int, default=0,
                   help="PHRASE mode: proximity tolerance — terms in "
                        "order within span (len-1)+slop (0 = exact)")
    s.add_argument("--boost-term", action="append", metavar="TERM=W",
                   help="per-term query boost (term^w — weight "
                        "multiplies the term's score contribution); "
                        "repeatable, OR/AND modes")
    s.add_argument("--collapse", metavar="FIELD",
                   help="field collapsing: one result per distinct "
                        "value of a stored docvalue FIELD — groups "
                        "ranked by their best doc (OR/AND modes)")
    s.add_argument("--min-match", type=int, default=None,
                   help="minimum_should_match: a doc needs at least this "
                        "many distinct query terms (OR mode only)")
    s.add_argument("--after", default=None,
                   help="cursor pagination: 'score,doc_id' of the last "
                        "row of the previous page (verbatim)")
    s.add_argument("--demote", default=None, metavar="QUERY",
                   help="ES boosting query: demote (don't drop) docs "
                        "matching this negative query")
    s.add_argument("--demote-factor", type=float, default=0.5,
                   help="negative_boost multiplier for --demote docs")
    s.add_argument("--text", action="store_true", help="materialize text")
    s.add_argument("--exclude", default=None,
                   help="NOT terms (drop docs containing any of these)")
    s.add_argument("--filter", default=None,
                   help="doc_filter SQL predicate over stored-corpus "
                        "columns, e.g. \"role = 'user'\"")
    s.add_argument("--dv-filter", default=None,
                   help="SQL predicate over the index's STORED docvalue "
                        "columns — served inside the scorer task (zero "
                        "corpus scan; index must be built with "
                        "--doc-values)")
    s.add_argument("--boost-field", default=None,
                   help="recency boost: docvalue timestamp column; "
                        "score *= 0.5 ** (age / half-life)")
    s.add_argument("--boost-half-life-days", type=float, default=30.0)
    s.add_argument("--decay", default=None,
                   choices=("gauss", "exp", "linear"),
                   help="ES function_score decay kind over --boost-field "
                        "(two-sided |value - origin|; replaces the "
                        "one-sided half-life recency form)")
    s.add_argument("--boost-origin", default=None,
                   help="decay origin (ISO-8601 UTC or epoch seconds)")
    s.add_argument("--boost-scale-days", type=float, default=30.0,
                   help="distance at which the decay multiplier equals "
                        "--boost-decay-value")
    s.add_argument("--boost-decay-value", type=float, default=0.5)
    s.add_argument("--boost-offset-days", type=float, default=0.0,
                   help="flat radius around the origin (multiplier 1.0)")
    s.add_argument("--boost-mode", default="multiply",
                   choices=("multiply", "sum"),
                   help="decay combine rule: score * v or score + v "
                        "(v = --boost-weight * decay)")
    s.add_argument("--boost-weight", type=float, default=1.0)
    s.add_argument("--boost-now", default=None,
                   help="ISO-8601 UTC reference instant (required with "
                        "--boost-field; frozen so runs are reproducible)")
    s.add_argument("--sort-by", default=None,
                   help="rank the match set by this docvalue column "
                        "instead of BM25 (NULL values excluded)")
    s.add_argument("--asc", action="store_true",
                   help="--sort-by ascending (default: descending)")
    s.add_argument("--snippets", action="store_true",
                   help="materialize contextual snippets")
    s.add_argument("--snippet-window", type=int, default=3)
    s.add_argument("--fragments", type=int, default=1,
                   help="--snippets: fragments per doc (ES highlight "
                        "number_of_fragments; anchors = distinct-term "
                        "first occurrences, ascending)")
    s.set_defaults(fn=cmd_search)
    sb = sub.add_parser("search-batch",
                        help="whole query set in ONE Spark job (E9)")
    sb.add_argument("--index-dir", required=True)
    sb.add_argument("--queries-file", required=True,
                    help="JSON list of {id, query, mode[, exclude]}; "
                         "mode OR|AND|PHRASE (PHRASE needs a positions "
                         "index; its score column is the phrase count)")
    sb.add_argument("--k", type=int, default=10)
    sb.add_argument("--filter", default=None,
                    help="doc_filter SQL predicate applied to every query")
    sb.add_argument("--dv-filter", default=None,
                    help="docvalue predicate applied to every query "
                         "(one in-task mask shared across the set)")
    sb.add_argument("--snippets", action="store_true",
                    help="contextual snippets per result row (each row "
                         "anchored on ITS query's terms; one extra "
                         "pruned-scan job for the whole set)")
    sb.add_argument("--snippet-window", type=int, default=3)
    sb.set_defaults(fn=cmd_search_batch)
    sm = sub.add_parser("search-multi",
                        help="one BM25 ranking with exact GLOBAL stats "
                             "across several indexes (daily partitions, "
                             "base + delta) — engine/multi.py")
    sm.add_argument("--index-dirs", required=True,
                    help="comma-separated packed index directories")
    sm.add_argument("--query", required=True)
    sm.add_argument("--k", type=int, default=10)
    sm.add_argument("--mode", default="OR", choices=["OR", "AND",
                                                     "or", "and"])
    sm.add_argument("--exclude", default=None)
    sm.add_argument("--no-wand", action="store_true")
    sm.set_defaults(fn=cmd_search_multi)
    tv = sub.add_parser("term-vectors",
                        help="per-doc term vector: (term, tf, df, cf, "
                             "idf) — one pruned corpus read + one "
                             "lexicon lookup")
    tv.add_argument("--index-dir", required=True)
    tv.add_argument("--doc-id", type=int, required=True)
    tv.set_defaults(fn=cmd_term_vectors)
    fc = sub.add_parser("facets",
                        help="facet-value counts over a query's FULL "
                             "match set (one GROUPING SETS pass for all "
                             "dimensions)")
    fc.add_argument("--index-dir", required=True)
    fc.add_argument("--query", required=True)
    fc.add_argument("--fields", required=True,
                    help="comma-separated stored-corpus metadata columns, "
                         "e.g. role,tool")
    fc.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "PREFIX", "REGEXP", "FUZZY",
                             "or", "and", "prefix", "regexp", "fuzzy"])
    fc.add_argument("--max-expansions", type=int, default=64,
                    help="PREFIX mode: wildcard expansion cap")
    fc.add_argument("--filter", default=None,
                    help="doc_filter SQL predicate (filtered facets)")
    fc.add_argument("--top-values", type=int, default=None,
                    help="keep only the N most frequent values per "
                         "dimension (sidebar cap)")
    fc.set_defaults(fn=cmd_facets)
    ct = sub.add_parser("count",
                        help="exact match count (one int64 per shard "
                             "task); --stats-field adds docvalue "
                             "min/max/sum/avg over the match set")
    ct.add_argument("--index-dir", required=True)
    ct.add_argument("--query", required=True)
    ct.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    ct.add_argument("--exclude", default=None)
    ct.add_argument("--filter", default=None,
                    help="doc_filter SQL predicate (count only)")
    ct.add_argument("--dv-filter", default=None)
    ct.add_argument("--stats-field", default=None,
                    help="docvalue timestamp/integer column: emit "
                         "n_docs/n_with_value/min/max/sum/avg instead "
                         "of the bare count")
    ct.add_argument("--cardinality-field", default=None,
                    help="docvalue column: emit the EXACT distinct-value "
                         "count over the match set instead of the doc "
                         "count")
    ct.set_defaults(fn=cmd_count)
    ex = sub.add_parser("explain",
                        help="per-term BM25 score breakdown for one doc "
                             "(the _explain endpoint)")
    ex.add_argument("--index-dir", required=True)
    ex.add_argument("--query", required=True)
    ex.add_argument("--doc-id", type=int, required=True)
    ex.set_defaults(fn=cmd_explain)
    sg = sub.add_parser("suggest",
                        help="did-you-mean term suggestions from the "
                             "fuzzy neighborhood (the _suggest endpoint)")
    sg.add_argument("--index-dir", required=True)
    sg.add_argument("--query", required=True)
    sg.add_argument("--max-edits", type=int, default=1)
    sg.add_argument("--n", type=int, default=3)
    sg.add_argument("--phrase", action="store_true",
                    help="whole-query phrase suggestions "
                         "(fuzzy.suggest_phrase) instead of per-term")
    sg.add_argument("--per-term", type=int, default=3,
                    help="candidates per token in phrase mode")
    sg.set_defaults(fn=cmd_suggest)
    pc = sub.add_parser("percentiles",
                        help="exact discrete percentiles of a docvalue "
                             "column over the match set")
    pc.add_argument("--index-dir", required=True)
    pc.add_argument("--query", required=True)
    pc.add_argument("--field", required=True)
    pc.add_argument("--ps", default="0.5,0.9,0.99",
                    help="comma-separated percentiles in (0,1]")
    pc.add_argument("--mode", default="OR", choices=["OR", "AND"])
    pc.add_argument("--exclude")
    pc.add_argument("--dv-filter")
    pc.add_argument("--method", default="auto",
                    choices=["auto", "exact", "binned"],
                    help="binned = bounded-state fixed-width histogram "
                         "(lower-edge DISC); auto guards on cardinality")
    pc.add_argument("--n-bins", type=int, default=4096)
    pc.set_defaults(fn=cmd_percentiles)
    si = sub.add_parser("stats",
                        help="index statistics (docs/terms/postings/"
                             "tokens/deleted)")
    si.add_argument("--index-dir", required=True)
    si.set_defaults(fn=cmd_stats)
    xp = sub.add_parser("export",
                        help="export EVERY matching doc to parquet "
                             "(distributed match-set dump, not top-k)")
    xp.add_argument("--index-dir", required=True)
    xp.add_argument("--query", required=True)
    xp.add_argument("--out-dir", required=True)
    xp.add_argument("--mode", default="OR", choices=["OR", "AND"])
    xp.add_argument("--exclude")
    xp.add_argument("--filter", help="SQL predicate over corpus columns")
    xp.add_argument("--dv-filter")
    xp.add_argument("--columns", help="comma-separated corpus columns "
                                      "(default: all; doc_id always kept)")
    xp.set_defaults(fn=cmd_export)
    st = sub.add_parser("sigterms",
                        help="significant-terms aggregation over the "
                             "match set's top-sample foreground (JLH)")
    st.add_argument("--index-dir", required=True)
    st.add_argument("--query", required=True)
    st.add_argument("--mode", default="OR", choices=["OR", "AND"])
    st.add_argument("--n", type=int, default=10)
    st.add_argument("--sample", type=int, default=100)
    st.add_argument("--min-fg", type=int, default=1)
    st.add_argument("--exclude")
    st.add_argument("--dv-filter")
    st.set_defaults(fn=cmd_sigterms)
    hg = sub.add_parser("histogram",
                        help="date-histogram over the match set "
                             "(docvalue time buckets)")
    hg.add_argument("--index-dir", required=True)
    hg.add_argument("--query", required=True)
    hg.add_argument("--field", required=True,
                    help="docvalue timestamp/integer column")
    hg.add_argument("--interval-s", type=int, default=None,
                    help="bucket width in whole seconds")
    hg.add_argument("--auto", action="store_true",
                    help="pick the interval from the frozen grain "
                         "ladder (auto_date_histogram)")
    hg.add_argument("--target-buckets", type=int, default=10,
                    help="--auto: land the histogram within this many "
                         "buckets")
    hg.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    hg.add_argument("--exclude", default=None)
    hg.add_argument("--dv-filter", default=None)
    hg.add_argument("--having", default=None, metavar="PRED",
                    help="bucket_selector: SQL predicate over the dense "
                         "bucket columns (n_docs/cum_docs/delta_docs)")
    hg.add_argument("--top", type=int, default=None, metavar="N",
                    help="bucket_sort: the N busiest buckets")
    hg.add_argument("--asc", action="store_true",
                    help="--top: quietest instead of busiest")
    hg.set_defaults(fn=cmd_histogram)
    md = sub.add_parser("mad",
                        help="exact median-absolute-deviation of a "
                             "docvalue column over the match set")
    md.add_argument("--index-dir", required=True)
    md.add_argument("--query", required=True)
    md.add_argument("--field", required=True)
    md.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    md.add_argument("--exclude", default=None)
    md.add_argument("--dv-filter", default=None)
    md.add_argument("--method", default="auto",
                    choices=["auto", "exact", "binned"],
                    help="binned = bounded-state fixed-width histogram "
                         "(lower-edge DISC); auto guards on cardinality")
    md.add_argument("--n-bins", type=int, default=4096)
    md.set_defaults(fn=cmd_mad)
    ms = sub.add_parser("missing",
                        help="missing-value count of a docvalue column "
                             "over the match set")
    ms.add_argument("--index-dir", required=True)
    ms.add_argument("--query", required=True)
    ms.add_argument("--field", required=True)
    ms.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    ms.add_argument("--exclude", default=None)
    ms.add_argument("--dv-filter", default=None)
    ms.set_defaults(fn=cmd_missing)
    ss = sub.add_parser("string-stats",
                        help="length stats + character entropy of a "
                             "string docvalue over the match set")
    ss.add_argument("--index-dir", required=True)
    ss.add_argument("--query", required=True)
    ss.add_argument("--field", required=True)
    ss.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    ss.add_argument("--exclude", default=None)
    ss.add_argument("--dv-filter", default=None)
    ss.set_defaults(fn=cmd_string_stats)
    cp = sub.add_parser("composite",
                        help="composite aggregation: one page of the "
                             "full key-tuple bucket walk (resumable "
                             "with --after)")
    cp.add_argument("--index-dir", required=True)
    cp.add_argument("--query", required=True)
    cp.add_argument("--fields", required=True,
                    help="comma-separated docvalue key columns")
    cp.add_argument("--size", type=int, default=10)
    cp.add_argument("--after", default=None,
                    help="JSON list: the previous page's last key values")
    cp.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    cp.add_argument("--exclude", default=None)
    cp.add_argument("--dv-filter", default=None)
    cp.set_defaults(fn=cmd_composite)
    fl = sub.add_parser("filters",
                        help="filters aggregation: named overlapping "
                             "predicate buckets over the match set")
    fl.add_argument("--index-dir", required=True)
    fl.add_argument("--query", required=True)
    fl.add_argument("--bucket", action="append", metavar="NAME=PRED",
                    required=True,
                    help="named docvalue SQL predicate (repeatable)")
    fl.add_argument("--mode", default="OR",
                    choices=["OR", "AND", "or", "and"])
    fl.add_argument("--exclude", default=None)
    fl.add_argument("--dv-filter", default=None)
    fl.set_defaults(fn=cmd_filters)
    pr = sub.add_parser("percolate-register",
                        help="register saved queries as a percolator "
                             "index (engine/percolate.py)")
    pr.add_argument("--queries-file", required=True,
                    help="JSON list of {id, query[, mode, min_match]}")
    pr.add_argument("--index-dir", required=True)
    pr.set_defaults(fn=cmd_percolate_register)
    pp = sub.add_parser("percolate",
                        help="which registered queries match this doc?")
    pp.add_argument("--index-dir", required=True)
    pp.add_argument("--text", required=True,
                    help="the incoming document's text")
    pp.set_defaults(fn=cmd_percolate)
    ri = sub.add_parser("reindex",
                        help="rebuild under a new config from the "
                             "STORED corpus (the _reindex op)")
    ri.add_argument("--index-dir", required=True)
    ri.add_argument("--out-dir", required=True)
    ri.add_argument("--positions", action="store_true")
    ri.add_argument("--doc-values", default=None,
                    help="comma-separated stored columns")
    ri.add_argument("--fuzzy-edits", type=int, default=0)
    ri.add_argument("--stopwords", default=None,
                    help="comma-separated analyzer stopwords")
    ri.add_argument("--stem", default=None, choices=[None, "s"],
                    help="light plural stemmer")
    ri.set_defaults(fn=cmd_reindex)
    ml = sub.add_parser("mlt",
                        help="more-like-this: docs similar to --doc-id")
    ml.add_argument("--index-dir", required=True)
    ml.add_argument("--doc-id", type=int, required=True)
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--max-terms", type=int, default=16)
    ml.add_argument("--filter", default=None)
    ml.add_argument("--dv-filter", default=None)
    ml.add_argument("--text", action="store_true")
    ml.add_argument("--show-terms", action="store_true",
                    help="also print the frozen tf*idf term selection")
    ml.set_defaults(fn=cmd_mlt)
    dl = sub.add_parser("delete",
                        help="tombstone docs (immediately invisible to "
                             "every query; stats frozen until purge)")
    dl.add_argument("--index-dir", required=True)
    dl.add_argument("--filter", default=None,
                    help="SQL predicate over stored-corpus columns "
                         "(delete-by-query)")
    dl.add_argument("--ids", default=None,
                    help="comma-separated doc_ids to delete")
    dl.set_defaults(fn=cmd_delete)
    pg = sub.add_parser("purge",
                        help="physically drop tombstoned docs (segment "
                             "rewrite + stats rebuild; ids never "
                             "renumbered)")
    pg.add_argument("--index-dir", required=True)
    pg.set_defaults(fn=cmd_purge)
    be = sub.add_parser("bench", help="run bench.py")
    be.add_argument("--convs", type=int, default=20000)
    be.set_defaults(fn=cmd_bench)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
