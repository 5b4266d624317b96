"""Elasticsearch Query-DSL executor: run a reference user's ACTUAL ES
query JSON against this engine, verbatim.

The reference delegates all querying to Elasticsearch, so the queries its
users hold today are ES DSL documents ({"query": {"bool": {...}}}).  This
module is the switch-over shim: ``execute_dsl`` walks the DSL tree and
routes every leaf to the engine primitive that implements it (the same
functions the harness verifies against DuckDB oracles), composing
compound clauses exactly the way ES's BooleanQuery does — must/should
scores SUM, filter context contributes 0, must_not excludes. The
compound kinds dis_max, boosting and constant_score have no primitive of
their own: their harness entries send a DSL body through ``execute_dsl``,
so the composition here is what the oracles check.

Every kind reads the index in the driver through the reader (knn's
vector store and percolate's query table through ``store.read_table``):
no request needs a SparkSession.

Scale shape: every leaf is one bounded dictionary/posting fetch through
the reader (row-group-pruned parquet seeks); composition happens in
plain dicts on the serving node over O(matching docs) — the same glue
layer ``simple_query_string`` and ``msearch`` already use, NOT a Spark
job per clause.

Supported kinds (36): match, match_phrase, match_phrase_prefix, term,
terms (incl. the terms-LOOKUP form), ids, range, prefix, fuzzy,
wildcard, regexp, exists, match_all, simple_query_string, span_near
(span_term / span_or clauses), span_or, span_not,
intervals (all_of), bool, constant_score, dis_max, boosting, terms_set,
has_child, has_parent, parent_id, more_like_this, pinned, wrapper,
function_score (field_value_factor), match_bool_prefix, multi_match
(best_fields / most_fields), combined_fields (BM25F per-field norms +
weights), query_string (full Lucene mini language: AND/OR/NOT,
parentheses, phrases), rank_feature (built-in doc_len feature),
percolate (reverse search over the registered-query store).
Reference parity: the full surface demo/README.md's queries
draw from — including the demo's own canonical request
(bool/should/has_child/min_children/inner_hits, demo/README.md:18-42)
verbatim; the request envelope (``execute_request``) adds flat aggs.

Parent/child contract (ES join-field mapping, demo/mapping.json): the
index is a fielded build where every doc indexes its relation name as
keyword field ``join_name`` and every CHILD indexes its parent's doc id
as keyword field ``join_parent``.  The ``join_parent:*`` posting lists
then ARE the child→parent map — ``has_child`` resolves it with one
row-group-pruned dictionary range seek plus one multi-term posting
fetch, the same shape as ES's global ordinals (built once per segment
there, fetched once per query here), never a per-parent loop.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from search_replica_spark.query import bm25 as Q

#: the single analyzed text field of a plain index; fielded keyword
#: lookups (term/terms/range/exists on other fields) go through the
#: ``field:value`` term space of a fielded build instead.
DEFAULT_FIELD = "content"

#: ES join-field contract (see module docstring): relation name / parent
#: pointer keyword fields of a parent-child fielded build.
JOIN_NAME_FIELD = "join_name"
JOIN_PARENT_FIELD = "join_parent"

_LEAF_CONST = 1.0  # ES constant-score filter-context leaves

#: kinds whose primitive top-k IS the final answer (ranked on the same
#: score-desc/id-asc key execute_dsl selects by) — safe to k-limit at the
#: TOP level only. Compositional kinds (bool, dis_max, multi_match,
#: match_bool_prefix, function_score, ...) must see full maps: a doc
#: outside one leg's top-k can still win after combination. ``match`` is
#: not here: its arrays come back unsorted and are selected once.
_LEAF_TOPK_KINDS = frozenset(
    {"match_phrase", "match_all", "simple_query_string",
     "more_like_this", "span_near", "terms_set"}
)


def execute_dsl(reader, query: dict, k: int = 10, live=None, inner_hits=None):
    """Top-k (doc_id, score) for an ES query DSL object. ``query`` is the
    value of the ES request's ``"query"`` key (a single-key dict like
    ``{"bool": {...}}``); pass the whole request body and the ``query``
    wrapper is unwrapped for convenience. Ties break (score desc, doc_id
    asc) — the engine-wide ES tie-break.

    ``inner_hits``: pass a dict to collect ES inner_hits — every
    ``has_child`` clause carrying an ``"inner_hits"`` body fills it with
    parent doc_id → [(child doc_id, child score), ...] (top ``size``,
    default 3, child-score desc / id asc — ES's inner-hits ordering)."""
    if live is None:
        live = reader._live
    if isinstance(query, dict) and set(query) == {"query"}:
        query = query["query"]
    # top-level LEAF fast path: for kinds whose primitive already returns
    # the final ES-ordered ranking, the walker passes k through instead of
    # materializing the full score map — measured 7x on the pinned p50 at
    # sf0.1 (compositions still need full maps and never take this path)
    leaf_k = (
        k
        if isinstance(query, dict) and len(query) == 1
        and next(iter(query)) in _LEAF_TOPK_KINDS
        else None
    )
    ids, scores = _score(reader, query, live, inner_hits, leaf_k)
    return Q._select_topk(scores, ids, k)


def _single(d: dict, kind: str):
    if not isinstance(d, dict) or len(d) != 1:
        raise ValueError(f"{kind} takes exactly one field, got {d!r}")
    return next(iter(d.items()))


def _text_field(field: str, kind: str) -> None:
    if field not in (DEFAULT_FIELD, "_all"):
        raise ValueError(
            f"{kind} runs on the analyzed default field {DEFAULT_FIELD!r}; "
            "keyword fields are served by term/terms/range/exists over a "
            "fielded index"
        )


def _members(ids) -> dict[int, float]:
    return {int(d): _LEAF_CONST for d in ids}


def _as_map(ids: np.ndarray, scores: np.ndarray) -> dict[int, float]:
    return dict(zip(ids.tolist(), scores.tolist()))


def _arrays(m: dict[int, float]) -> tuple[np.ndarray, np.ndarray]:
    return (
        np.fromiter(m.keys(), dtype=np.int64, count=len(m)),
        np.fromiter(m.values(), dtype=np.float64, count=len(m)),
    )


def _spec(body, key: str = "query"):
    """ES leaf bodies come in short form ({field: "text"}) and long form
    ({field: {"query": "text", ...options}}); normalize to (text, opts)."""
    if isinstance(body, dict):
        return body[key], body
    return body, {}


def _fielded(reader) -> bool:
    """True for field_analyzers builds, whose term space is field:term."""
    get = getattr(reader, "field_stats", None)
    return bool(get()) if get is not None else False


def _score(reader, q, live, ih=None, leaf_k=None) -> tuple[np.ndarray, np.ndarray]:
    """A DSL query's matches as (doc_id, score) arrays. A ``match`` leaf's
    arrays come straight from the scorer; every other kind is scored as a
    map by ``_score_map`` and converted here."""
    kind, body = _single(q, "a DSL query")
    if kind == "match":
        return _match(reader, body, live)
    return _arrays(_score_map(reader, q, live, ih, leaf_k))


def _match(reader, body, live) -> tuple[np.ndarray, np.ndarray]:
    """ES match: every match as (doc_id, score) arrays."""
    field, spec = _single(body, "match")
    text, opts = _spec(spec)
    mode = "and" if str(opts.get("operator", "or")).lower() == "and" else "or"
    if _fielded(reader):
        # fielded build: analyze the value into the field's term space
        # (field:term), per-field BM25 — ES's per-mapping analysis
        from search_replica_spark.analysis.fields import field_query_terms

        qterms = field_query_terms(field, str(text))
        return Q.TermAtATimeScorer(reader).score(terms=qterms, k=None, mode=mode, live=live)
    _text_field(field, "match")
    if mode == "and":
        return Q.bool_topk(reader, must=[text], k=None, live=live)
    return Q.bool_topk(reader, should=[text], k=None, live=live)


def _score_map(reader, q, live, ih=None, leaf_k=None) -> dict[int, float]:
    """A DSL query's matches as a doc_id → score map: the form the
    compositional kinds combine."""
    kind, body = _single(q, "a DSL query")
    # full-result k for composition; ``leaf_k`` is only ever non-None when
    # the caller verified this call IS a top-level _LEAF_TOPK_KINDS leaf
    n = int(leaf_k) if leaf_k is not None else int(reader.doc_arrays()[0].size)

    if kind == "match_all":
        return {d: s for d, s in Q.match_all(reader, k=n, live=live)}

    if kind == "match":
        return _as_map(*_match(reader, body, live))

    if kind == "match_phrase":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        text, opts = _spec(spec)
        return dict(
            Q.phrase_topk(reader, text, n, slop=int(opts.get("slop", 0)), live=live)
        )

    if kind == "match_phrase_prefix":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        text, opts = _spec(spec)
        return _members(
            Q.match_phrase_prefix(
                reader, text,
                max_expansions=opts.get("max_expansions", 50), live=live,
            )
        )

    if kind in ("term", "terms"):
        field, spec = _single(body, kind)
        if kind == "terms" and isinstance(spec, dict) and "id" in spec:
            # terms-LOOKUP form: the value list lives in another stored
            # document ({"terms": {field: {"index": ..., "id": ..,
            # "path": ...}}}) — one point read of its stored field, then
            # the same constant-score terms query
            return _members(
                Q.terms_lookup(
                    reader, int(spec["id"]), field=str(spec.get("path", field)), live=live,
                )
            )
        values = (
            spec if isinstance(spec, list)
            else [_spec(spec, key="value")[0]] if kind == "term"
            else [spec]
        )
        if field in (DEFAULT_FIELD, "_all") and not _fielded(reader):
            # term queries are NOT analyzed (ES semantics): the values are
            # matched as exact tokens of the analyzed field
            return _members(
                Q._expansion_docs(reader, sorted({str(v) for v in values}), live)
            )
        return _members(Q.terms_match(reader, field, [str(v) for v in values], live=live))

    if kind == "ids":
        values = {int(v) for v in body["values"]}
        _, doc_ids = reader.doc_arrays()
        slots = np.flatnonzero(np.isin(doc_ids, np.fromiter(values, dtype=np.int64)))
        if live is not None:
            slots = slots[live[slots]]
        return _members(doc_ids[slots])

    if kind == "range":
        field, spec = _single(body, kind)
        return _members(
            Q.range_match(
                reader, field, gte=spec.get("gte"), lte=spec.get("lte"), live=live
            )
        )

    if kind == "prefix":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        value, opts = _spec(spec, key="value")
        return _members(
            Q.prefix_match(
                reader, value,
                max_expansions=opts.get("max_expansions", 50), live=live,
            )
        )

    if kind == "fuzzy":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        value, opts = _spec(spec, key="value")
        return _members(
            Q.fuzzy_match(
                reader, value,
                fuzziness=int(opts.get("fuzziness", 1)),
                prefix_length=int(opts.get("prefix_length", 1)),
                max_expansions=opts.get("max_expansions", 50),
                live=live,
            )
        )

    if kind == "wildcard":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        value, opts = _spec(spec, key="value")
        return _members(
            Q.wildcard_match(
                reader, value,
                max_expansions=opts.get("max_expansions", 50), live=live,
            )
        )

    if kind == "regexp":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        value, opts = _spec(spec, key="value")
        return _members(
            Q.regexp_match(
                reader, value,
                max_expansions=opts.get("max_expansions", 50), live=live,
            )
        )

    if kind == "exists":
        return _members(Q.exists_match(reader, body["field"], live=live))

    if kind == "simple_query_string":
        return dict(
            Q.simple_query_string(
                reader, body["query"], k=n,
                default_operator=str(body.get("default_operator", "or")).lower(),
                live=live,
            )
        )

    if kind == "span_near":
        groups: list[list[str]] = []
        for cl in body["clauses"]:
            _k, inner = _single(cl, "span_near clause")
            if _k == "span_term":
                field, value = _single(inner, "span_term")
                _text_field(field, "span_term")
                groups.append([str(value)])
            elif _k == "span_or":
                alts = []
                for sub in inner["clauses"]:
                    _k2, inner2 = _single(sub, "span_or clause")
                    if _k2 != "span_term":
                        raise ValueError("span_or clauses must be span_term")
                    field, value = _single(inner2, "span_term")
                    _text_field(field, "span_term")
                    alts.append(str(value))
                groups.append(alts)
            else:
                raise ValueError("span_near clauses must be span_term or span_or")
        slop = int(body.get("slop", 0))
        if body.get("in_order", True):
            return dict(
                Q.span_near_or_topk(reader, groups, n, slop=slop, live=live)
            )
        if any(len(g) > 1 for g in groups):
            raise ValueError("in_order=false span_near does not support span_or")
        return _members(
            Q.intervals_match(
                reader, " ".join(g[0] for g in groups), max_gaps=slop, k=None,
                live=live,
            )
        )

    if kind == "span_not":
        vals = []
        for side in ("include", "exclude"):
            _k2, inner2 = _single(body[side], f"span_not {side}")
            if _k2 != "span_term":
                raise ValueError("span_not include/exclude must be span_term")
            field, value = _single(inner2, "span_term")
            _text_field(field, "span_term")
            vals.append(str(value))
        return dict(
            Q.span_not_topk(
                reader, vals[0], vals[1],
                pre=int(body.get("pre", 0)), post=int(body.get("post", 0)),
                k=n, live=live,
            )
        )

    if kind == "span_or":
        # standalone span_or: constant-score union of the alternatives'
        # docs (the span structure only matters inside span_near/span_first)
        terms = []
        for sub in body["clauses"]:
            _k2, inner2 = _single(sub, "span_or clause")
            if _k2 != "span_term":
                raise ValueError("span_or clauses must be span_term")
            field, value = _single(inner2, "span_term")
            _text_field(field, "span_term")
            terms.append(str(value))
        return _members(Q._expansion_docs(reader, sorted(set(terms)), live))

    if kind == "intervals":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        allof = spec["all_of"]
        groups: list[list[str]] = []
        for iv in allof["intervals"]:
            if "match" in iv:
                groups.append([str(iv["match"]["query"])])
            elif "any_of" in iv:
                groups.append([
                    str(sub["match"]["query"]) for sub in iv["any_of"]["intervals"]
                ])
            else:
                raise ValueError("intervals sources must be match or any_of(match)")
        gaps = int(allof.get("max_gaps", 0))
        if allof.get("ordered", False):
            return _members(
                d for d, _s in Q.span_near_or_topk(reader, groups, n, slop=gaps, live=live)
            )
        return _members(
            Q.intervals_groups_match(reader, groups, max_gaps=gaps, k=None, live=live)
        )

    if kind == "terms_set":
        field, spec = _single(body, kind)
        _text_field(field, kind)
        return dict(
            Q.terms_set_topk(
                reader, [str(t) for t in spec["terms"]],
                int(spec["minimum_should_match_script"]["source"])
                if "minimum_should_match_script" in spec
                else int(spec["minimum_should_match"]),
                k=n, live=live,
            )
        )

    if kind == "percolate":
        # reverse search: the hits are the REGISTERED QUERIES matching the
        # given document (query_id as _id, constant score) — requires a
        # percolator store registered against this index
        from search_replica_spark.query.percolator import percolate

        return dict(percolate(reader.index_dir, body["document"]))

    if kind == "rank_feature":
        # ES rank_feature over the engine's built-in per-doc feature
        # (doc_len — the indexed length every reader already holds; table
        # feature columns are served by the ft_rank_feature_top10 operator
        # form): saturation boost·x/(x+pivot), pivot defaulting to the
        # corpus mean exactly like ES's approximate geometric default
        if body.get("field") != "doc_len":
            raise ValueError(
                "rank_feature serves the built-in doc_len feature here; "
                "arbitrary feature columns live in the operator form "
                "(ft_rank_feature_top10)"
            )
        pivot = float(body.get("saturation", {}).get("pivot", reader.avg_dl))
        boost = float(body.get("boost", 1.0))
        dl, ids = reader.doc_arrays()
        if live is not None:
            drop = getattr(live, "drop_dead", None)
            if drop is not None:
                keep = np.isin(ids, drop(ids))
            else:
                keep = np.asarray(live, bool)
            dl, ids = dl[keep], ids[keep]
        sat = boost * (dl / (dl + pivot))
        return {int(d): float(s) for d, s in zip(ids, sat)}

    if kind == "query_string":
        return query_string_map(
            reader, body["query"], live,
            default_operator=str(body.get("default_operator", "or")).lower(),
        )

    if kind == "match_bool_prefix":
        # ES match_bool_prefix: every analyzed term a should term-clause,
        # the LAST one a should prefix-clause (constant score) — the
        # search-as-you-type primitive
        field, spec = _single(body, kind)
        _text_field(field, kind)
        text, opts = _spec(spec)
        toks = list(Q.tokenize_text(str(text)))
        if not toks:
            return {}
        *full, last = toks
        out: dict[int, float] = (
            dict(Q.bool_topk(reader, should=[" ".join(full)], k=n, live=live))
            if full
            else {}
        )
        for d in Q.prefix_match(
            reader, last, max_expansions=opts.get("max_expansions", 50), live=live
        ):
            out[d] = out.get(d, 0.0) + _LEAF_CONST
        return out

    if kind == "multi_match":
        # per-field analysis of one query string; best_fields = dis_max
        # over the per-field scores (+ tie_breaker), most_fields = sum
        text = str(body["query"])
        fields = body.get("fields", [DEFAULT_FIELD])
        mtype = str(body.get("type", "best_fields"))
        maps: list[dict[int, float]] = []
        for f in fields:
            if _fielded(reader):
                from search_replica_spark.analysis.fields import field_query_terms

                maps.append(dict(Q.TermAtATimeScorer(reader).score(
                    terms=field_query_terms(f, text), k=n, live=live
                )))
            else:
                _text_field(f, kind)
                maps.append(dict(Q.bool_topk(reader, should=[text], k=n, live=live)))
        if mtype == "most_fields":
            out = {}
            for m in maps:
                for d, s in m.items():
                    out[d] = out.get(d, 0.0) + s
            return out
        if mtype != "best_fields":
            raise ValueError(f"multi_match type {mtype!r} not supported")
        tie = float(body.get("tie_breaker", 0.0))
        out = {}
        for d in set().union(*maps) if maps else ():
            vals = [m[d] for m in maps if d in m]
            best = max(vals)
            out[d] = best + tie * (sum(vals) - best)
        return out

    if kind == "combined_fields":
        # ES combined_fields: one query string scored across several
        # fields of a fielded build with per-field weights (the BM25F
        # field-weight model, ES "fields": ["title^2", "body"] syntax) —
        # routed to the per-field-norms scorer (each clause normalizes by
        # ITS field's length statistics)
        text = str(body["query"])
        boosts: dict[str, float] = {}
        fields = []
        for f in body["fields"]:
            name, _, w = str(f).partition("^")
            fields.append(name)
            if w:
                boosts[name] = float(w)
        toks = list(Q.tokenize_text(text))
        terms = [f"{f}:{t}" for f in fields for t in toks]
        return dict(
            Q.fielded_norms_topk(reader, terms, k=n, live=live, boosts=boosts or None)
        )

    if kind == "more_like_this":
        fields = body.get("fields", [DEFAULT_FIELD])
        if list(fields) != [DEFAULT_FIELD]:
            _text_field(fields[0] if fields else "", kind)
        likes = body["like"]
        if isinstance(likes, (str, dict)):
            likes = [likes]
        texts, exclude = [], set()
        for like in likes:
            if isinstance(like, str):
                texts.append(like)
            else:  # {"_id": ...}: like an indexed doc — ES excludes it
                lid = int(like["_id"])
                exclude.add(lid)
                text = _stored_content(reader, lid)
                if text is not None:  # ES skips a like doc it cannot fetch
                    texts.append(text)
        return dict(
            Q.more_like_this_topk(
                reader, " ".join(texts), k=n,
                max_query_terms=int(body.get("max_query_terms", 25)),
                exclude=() if body.get("include", False) else exclude,
                live=live,
            )
        )

    if kind == "pinned":
        organic = _score_map(reader, body["organic"], live, ih)
        pins = [int(i) for i in body["ids"]]
        # ES pinned: the listed docs rank ABOVE every organic hit, in the
        # given order (they need not match the organic query — but must
        # exist and be live)
        _, doc_ids = reader.doc_arrays()
        slots = np.flatnonzero(
            np.isin(doc_ids, np.fromiter(pins, dtype=np.int64))
        ) if pins else np.array([], dtype=np.int64)
        if live is not None:
            slots = slots[live[slots]]
        alive = {int(d) for d in doc_ids[slots]}
        out = dict(organic)
        top = max(out.values(), default=0.0)
        for rank, pid in enumerate(pins):
            if pid in alive:
                out[pid] = top + (len(pins) - rank)
        return out

    if kind == "wrapper":  # base64-encoded query, recursed verbatim
        import base64
        import json as _json

        return _score_map(
            reader, _json.loads(base64.b64decode(body["query"])), live, ih
        )

    if kind == "function_score":
        fvf = body.get("field_value_factor")
        if (
            not isinstance(fvf, dict)
            or str(fvf.get("modifier", "ln1p")).lower() != "ln1p"
            or str(body.get("boost_mode", "multiply")).lower() != "multiply"
        ):
            raise ValueError(
                "function_score supports field_value_factor with modifier "
                "ln1p and boost_mode multiply (the engine's "
                "function_score_topk form)"
            )
        inner = _score_map(reader, body["query"], live, ih)
        dl, doc_ids = reader.doc_arrays()
        order = np.argsort(doc_ids, kind="stable")
        sids = doc_ids[order]
        ds = np.fromiter(inner, dtype=np.int64, count=len(inner))
        factor = np.log1p(dl[order[np.searchsorted(sids, ds)]])
        return {int(d): inner[int(d)] * float(f) for d, f in zip(ds, factor)}

    if kind == "has_child":
        return _has_child_map(reader, body, live, ih)

    if kind == "has_parent":
        ptype = body["parent_type"]
        parents = _score_map(reader, body["query"], live, ih)
        pset = set(Q.terms_match(reader, JOIN_NAME_FIELD, [ptype], live=live))
        matched = {d: s for d, s in parents.items() if d in pset}
        carry = bool(body.get("score", False))  # ES default: score=false → 0
        _, doc_ids = reader.doc_arrays()
        # ONE multi-term posting fetch for exactly the matching parents'
        # child lists — never a per-parent loop
        post = reader.fetch_postings(
            [f"{JOIN_PARENT_FIELD}:{p}" for p in sorted(matched)]
        )
        out: dict[int, float] = {}
        for t, (slots, _tf) in post.items():
            if live is not None:
                slots = slots[live[slots]]
            pscore = matched[int(t.split(":", 1)[1])]
            for c in doc_ids[slots]:
                out[int(c)] = pscore if carry else 0.0
        return out

    if kind == "parent_id":
        kids = set(Q.terms_match(reader, JOIN_NAME_FIELD, [body["type"]], live=live))
        mine = Q.terms_match(reader, JOIN_PARENT_FIELD, [str(body["id"])], live=live)
        return _members(d for d in mine if d in kids)

    if kind == "bool":
        return _bool_map(reader, body, live, ih)

    if kind == "constant_score":
        boost = float(body.get("boost", 1.0))
        return {d: boost for d in _score_map(reader, body["filter"], live, ih)}

    if kind == "dis_max":
        tie = float(body.get("tie_breaker", 0.0))
        maps = [_score_map(reader, sub, live, ih) for sub in body["queries"]]
        out: dict[int, float] = {}
        for d in set().union(*maps) if maps else ():
            vals = [m[d] for m in maps if d in m]
            best = max(vals)
            out[d] = best + tie * (sum(vals) - best)
        return out

    if kind == "boosting":
        nb = float(body.get("negative_boost", 0.5))
        pos = _score_map(reader, body["positive"], live, ih)
        neg = set(_score_map(reader, body["negative"], live, ih))
        return {d: (s * nb if d in neg else s) for d, s in pos.items()}

    raise ValueError(f"unsupported DSL query kind: {kind!r}")


def _bool_map(reader, body: dict, live, ih=None) -> dict[int, float]:
    """ES bool composition: must ∧ filter gate the candidates, must_not
    excludes, score = Σ must + Σ should (filter context scores 0);
    minimum_should_match defaults to 1 when the bool has ONLY should
    clauses, else 0 — exactly BooleanQuery's rewrite."""
    as_list = lambda x: x if isinstance(x, list) else [x]  # noqa: E731
    m_maps = [_score_map(reader, c, live, ih) for c in as_list(body.get("must", []))]
    s_maps = [_score_map(reader, c, live, ih) for c in as_list(body.get("should", []))]
    f_sets = [set(_score_map(reader, c, live, ih)) for c in as_list(body.get("filter", []))]
    n_sets = [set(_score_map(reader, c, live, ih)) for c in as_list(body.get("must_not", []))]

    if m_maps or f_sets:
        cand = set(m_maps[0]) if m_maps else set(f_sets[0])
        for m in m_maps[1:]:
            cand &= set(m)
        for f in f_sets:
            cand &= f
        msm = int(body.get("minimum_should_match", 0))
    else:
        cand = set().union(*s_maps) if s_maps else set()
        msm = int(body.get("minimum_should_match", 1))
    if s_maps and msm > 0:
        cand = {d for d in cand if sum(d in s for s in s_maps) >= msm}
    for ns in n_sets:
        cand -= ns
    if not m_maps and not s_maps:
        return {d: 0.0 for d in cand}  # pure filter context scores 0, like ES
    return {
        d: sum(m.get(d, 0.0) for m in m_maps) + sum(s.get(d, 0.0) for s in s_maps)
        for d in cand
    }


def _has_child_map(reader, body: dict, live, ih=None) -> dict[int, float]:
    """ES has_child (the demo query's own clause, demo/README.md:23-33):
    parents with >= min_children children of ``type`` matching the inner
    query.  score_mode none|sum|max|min|avg aggregates the matching
    children's scores per parent (ES default ``none`` scores 0 — the demo
    wraps it in bool/should and still lists every hit).

    The child→parent resolution is the ES global-ordinals shape: the
    ``join_parent:*`` posting lists (one pruned dict range seek + one
    multi-term fetch) give (parent value → child slots) directly, so cost
    is O(children) independent of how the inner query matched, and there
    is no per-parent query loop.  ``inner_hits`` (when requested AND the
    caller passed a collector dict to ``execute_dsl``) records each
    parent's top-``size`` matching children — per-parent top-k on the
    serving node, the window-free analogue of b6d's row_number cap."""
    ctype = body["type"]
    min_children = int(body.get("min_children", 1))
    score_mode = str(body.get("score_mode", "none")).lower()
    child_scores = _score_map(reader, body["query"], live, ih)
    kid_type = set(Q.terms_match(reader, JOIN_NAME_FIELD, [ctype], live=live))
    matched = {d: s for d, s in child_scores.items() if d in kid_type}

    _, doc_ids = reader.doc_arrays()
    live_ids = None
    if live is not None:
        drop = getattr(live, "drop_dead", None)
        live_ids = set(
            (drop(doc_ids) if drop is not None else doc_ids[np.asarray(live, bool)])
            .tolist()
        )

    ih_body = body.get("inner_hits")
    ih_size = int(ih_body.get("size", 3)) if isinstance(ih_body, dict) else 3

    terms = reader.expand_prefix(f"{JOIN_PARENT_FIELD}:", max_expansions=None)
    post = reader.fetch_postings(terms)
    out: dict[int, float] = {}
    for t, (slots, _tf) in post.items():
        if live is not None:
            slots = slots[live[slots]]
        hits = [
            (c, matched[c]) for c in (int(x) for x in doc_ids[slots]) if c in matched
        ]
        if len(hits) < max(1, min_children):
            continue
        parent = int(t.split(":", 1)[1])
        if live_ids is not None and parent not in live_ids:
            continue  # tombstoned parent: children alone don't resurrect it
        vals = [s for _c, s in hits]
        out[parent] = {
            "none": 0.0, "sum": sum(vals), "max": max(vals),
            "min": min(vals), "avg": sum(vals) / len(vals),
        }[score_mode]
        if ih_body is not None and ih is not None:
            ih[parent] = sorted(hits, key=lambda h: (-h[1], h[0]))[:ih_size]
    return out


def _stored_contents(reader, ids: list[int]) -> dict[int, str]:
    """The stored default-field text of the live docs among ``ids``, by
    id: ONE docs-store read for all of them (``reader.stored_fields``), so
    highlighting a page of hits never issues a GET per hit. A build
    without stored ``_source`` holds no text."""
    t = reader.stored_fields(ids, [DEFAULT_FIELD])
    if DEFAULT_FIELD not in t.column_names:
        return {}
    return dict(zip(t["_rid"].to_pylist(), t[DEFAULT_FIELD].to_pylist()))


def _stored_content(reader, doc_id: int) -> str | None:
    """The stored default-field text of one live document (more_like_this
    by _id), or None when no live doc has that id (absent or tombstoned).
    Requires a ``store_source=True`` build, exactly like ES requires
    ``_source`` for MLT by id."""
    t = reader.stored_fields([int(doc_id)], [DEFAULT_FIELD])
    if DEFAULT_FIELD in t.column_names:
        if not t.num_rows:
            return None
        text = t[DEFAULT_FIELD][0].as_py()
        if text is not None:
            return text
    raise ValueError(
        f"more_like_this: no stored _source for _id {doc_id} "
        "(MLT by id needs a store_source=True build)"
    )


def _stored_column(t: pa.Table, field) -> pa.ChunkedArray:
    if field not in t.column_names:
        raise ValueError(f"{field!r} is not a stored field of this index")
    return t[field]


def _highlight_terms(q) -> list[str]:
    """The analyzed-field terms a highlighter should mark for a DSL tree:
    text leaves recursed through the compound kinds, negative/must_not
    branches skipped (ES's plain highlighter does the same — it marks the
    terms that MATCHED)."""
    kind, body = _single(q, "a DSL query")
    if kind in ("match", "match_phrase", "match_phrase_prefix", "match_bool_prefix"):
        _f, spec = _single(body, kind)
        text, _o = _spec(spec)
        return list(Q.tokenize_text(str(text)))
    if kind == "term":
        _f, spec = _single(body, kind)
        v, _o = _spec(spec, key="value")
        return [str(v)]
    if kind == "terms":
        _f, spec = _single(body, kind)
        return [str(v) for v in (spec if isinstance(spec, list) else [spec])]
    if kind == "simple_query_string":
        return [
            t for g in Q.parse_simple_query_string(body["query"]) for _k, t, _s, neg in g
            if not neg for t in Q.tokenize_text(t)
        ]
    if kind in ("multi_match", "combined_fields"):
        return list(Q.tokenize_text(str(body["query"])))
    if kind == "query_string":
        node, _p = _qs_parse(_qs_tokens(str(body["query"])), 0, "or")

        def walk(nd):
            if nd[0] in ("term", "phrase"):
                return list(Q.tokenize_text(nd[1]))
            if nd[0] == "not":
                return []  # negative branches never highlight
            return [t for c in nd[1] for t in walk(c)]

        return walk(node)
    if kind == "bool":
        out = []
        for sect in ("must", "should", "filter"):
            cl = body.get(sect, [])
            for c in cl if isinstance(cl, list) else [cl]:
                out.extend(_highlight_terms(c))
        return out
    if kind == "dis_max":
        return [t for sub in body["queries"] for t in _highlight_terms(sub)]
    if kind == "boosting":
        return _highlight_terms(body["positive"])
    if kind in ("constant_score",):
        return _highlight_terms(body["filter"])
    if kind == "function_score":
        return _highlight_terms(body["query"])
    if kind == "pinned":
        return _highlight_terms(body["organic"])
    return []


def _buckets(keys: pa.ChunkedArray, by_count: bool) -> list[dict]:
    """ES buckets of ``keys``: each distinct value, null included, with
    its count, ordered by count desc then key asc (``by_count``: terms) or
    by key asc (histogram), a null key first as Spark orders it."""
    vc = pc.value_counts(keys)
    t = pa.table({"key": vc.field("values"), "doc_count": vc.field("counts")})
    by = [("doc_count", "descending")] if by_count else []
    return t.sort_by(by + [("key", "ascending")], null_placement="at_start").to_pylist()


def _avg(col: pa.ChunkedArray) -> float | None:
    n = pc.count(col).as_py()
    return pc.sum(pc.cast(col, pa.float64())).as_py() / n if n else None


#: the single-value metric aggs over a column's non-null values; each
#: keeps the Python type Spark gives it (a sum of ints is an int)
_METRICS = {
    "min": lambda c: pc.min(c).as_py(),
    "max": lambda c: pc.max(c).as_py(),
    "sum": lambda c: pc.sum(c).as_py(),
    "avg": _avg,
    "value_count": lambda c: pc.count(c).as_py(),
    "cardinality": lambda c: pc.count_distinct(c).as_py(),  # exact: what ES's HLL approximates
}


def _run_aggs(reader, aggs: dict, matched: np.ndarray) -> dict:
    """ES request-body ``aggs`` over the query's matched set, computed in
    the driver with ``pyarrow.compute`` over ONE docs-store read of the
    matches' agg fields (``reader.stored_fields``), never by iterating
    hits in Python.  Supported: terms, stats,
    min/max/sum/avg/value_count, cardinality, histogram — the flat
    (non-nested) core; a sub-agg tree is refused."""
    specs = {}
    for name, spec in aggs.items():
        if "aggs" in spec or "aggregations" in spec:
            raise ValueError(
                f"agg {name!r}: nested sub-aggregations are not served — "
                "flat aggs only"
            )
        specs[name] = _single(spec, f"agg {name!r}")
    fields = dict.fromkeys(abody.get("field") for _k, abody in specs.values())
    t = reader.stored_fields(matched, list(fields))
    out: dict = {}
    for name, (akind, abody) in specs.items():
        col = _stored_column(t, abody.get("field"))
        if akind == "terms":
            out[name] = {"buckets": _buckets(col, by_count=True)[: int(abody.get("size", 10))]}
        elif akind == "stats":
            out[name] = {"count": pc.count(col).as_py(),
                         **{k: _METRICS[k](col) for k in ("min", "max", "sum", "avg")}}
        elif akind in _METRICS:
            out[name] = {"value": _METRICS[akind](col)}
        elif akind == "histogram":
            iv = float(abody["interval"])
            keys = pc.multiply(pc.floor(pc.divide(pc.cast(col, pa.float64()), iv)), iv)
            out[name] = {"buckets": _buckets(keys, by_count=False)}
        else:
            raise ValueError(f"request agg {akind!r} not supported")
    return out


def execute_request(reader, body: dict, live=None) -> dict:
    """The full ES ``/_search`` REQUEST BODY, answered ES-shaped: supports
    ``query`` (default match_all), ``from``/``size`` paging, ``sort``
    (``_score`` desc — the default — ``_doc``, or any STORED field, the
    latter ranked by a table sort of the matched docs' values),
    ``min_score``, ``track_total_hits`` (always exact — a batch engine's
    totals are free), ``highlight`` over the stored default field (one
    batched docs-store read for the page, never per-hit), and flat
    ``aggs`` (terms/stats/min/max/sum/avg/value_count/cardinality/
    histogram over the matched set).  The fetch phase (highlight, a
    stored-field sort, aggs) reads the docs store through
    ``reader.stored_fields`` in the driver, with no Spark job.  Returns
    ``{"hits": {"total": {...}, "hits": [{"_id", "_score", ...}]},
    "aggregations": {...}}`` — the envelope a reference user's client
    already parses. A top-level key outside these raises ``ValueError``
    naming it, as ES's parse error does (a bare query object such as
    ``{"match": ...}`` is not a request body)."""
    unknown = sorted(set(body) - {
        "query", "knn", "from", "size", "sort", "search_after", "min_score",
        "highlight", "explain", "aggs", "aggregations", "track_total_hits"})
    if unknown:
        raise ValueError(f"unknown top-level key(s) in the request body: {unknown}")
    if live is None:
        live = reader._live
    knn = body.get("knn")
    # a knn-only request returns vector hits alone (ES semantics); with a
    # query, the union is scored additively (query score + boost·cosine)
    query = body.get("query") or ({"match_all": {}} if knn is None else None)
    ih: dict = {}
    ids, scores = _score(reader, query, live, ih) if query is not None else _arrays({})
    if knn is not None:
        from search_replica_spark.query.knn import knn_query

        kk = int(knn.get("k", body.get("size", 10)))
        khits = knn_query(
            reader.index_dir, knn["query_vector"], k=kk,
            num_candidates=int(knn.get("num_candidates", 10 * kk)),
        )
        boost = float(knn.get("boost", 1.0))
        merged = _as_map(ids, scores)
        for d, s in khits:
            merged[d] = merged.get(d, 0.0) + boost * s
        ids, scores = _arrays(merged)

    min_score = body.get("min_score")
    if min_score is not None:
        keep = scores >= float(min_score)
        ids, scores = ids[keep], scores[keep]

    total = int(ids.size)
    offset = int(body.get("from", 0))
    size = int(body.get("size", 10))

    sort = body.get("sort", ["_score"])
    key = sort[0] if isinstance(sort, list) and sort else sort
    order = "asc"
    if isinstance(key, dict):
        key, kspec = next(iter(key.items()))
        if isinstance(kspec, dict):
            order = str(kspec.get("order", "asc"))
    # search_after: cursor paging — [last sort value, last _id]; strictly
    # after the cursor in ES order, so deep pages never re-rank the head
    after = body.get("search_after")
    sort_vals: dict[int, object] = {}
    if key == "_doc":
        keep = ids > int(after[-1]) if after is not None else slice(None)
        d, s = ids[keep], scores[keep]
        o = np.argsort(d)[offset : offset + size]
        page = list(zip(d[o].tolist(), s[o].tolist()))
    elif key == "_score":
        keep = slice(None)
        if after is not None:
            cs, cd = float(after[0]), int(after[-1])
            keep = (scores < cs) | ((scores == cs) & (ids > cd))
        page = Q._select_topk(scores[keep], ids[keep], offset + size)[offset:]
    else:
        # stored-field sort: the matches' key column, sorted on (key, id
        # asc) with a null key first ascending and last descending, as
        # Spark orders them
        if after is not None:
            raise ValueError(
                "search_after supports _score/_doc sorts; cursor paging on "
                "a stored field needs the field value in the cursor — use "
                "from/size there instead"
            )
        t = reader.stored_fields(ids, [key])
        _stored_column(t, key)
        asc = order == "asc"
        rows = t.sort_by(
            [(key, "ascending" if asc else "descending"), ("_rid", "ascending")],
            null_placement="at_start" if asc else "at_end",
        ).slice(offset, size).to_pylist()
        smap = _as_map(ids, scores)
        page = [(r["_rid"], smap[r["_rid"]]) for r in rows]
        sort_vals = {r["_rid"]: r[key] for r in rows}

    hits = []
    frags: dict[int, str | None] = {}
    if "highlight" in body and page:
        from search_replica_spark.query.highlight import highlight_fragment

        hl = body["highlight"]
        fspec = hl.get("fields", {}).get(DEFAULT_FIELD, {})
        terms = _highlight_terms(query)
        contents = _stored_contents(reader, [d for d, _s in page])
        for d, _s in page:
            frags[d] = highlight_fragment(
                contents.get(d), terms,
                frag_size=int(fspec.get("fragment_size", 80)),
                pre=(hl.get("pre_tags") or ["<em>"])[0],
                post=(hl.get("post_tags") or ["</em>"])[0],
            )
    for d, s in page:
        h: dict = {"_id": d, "_score": s}
        if d in sort_vals:
            h["sort"] = [sort_vals[d]]
        if d in ih:
            h["inner_hits"] = [{"_id": c, "_score": cs} for c, cs in ih[d]]
        if frags.get(d) is not None:
            h["highlight"] = {DEFAULT_FIELD: [frags[d]]}
        hits.append(h)
    if body.get("explain") and query is not None:
        # ES "explain": true — the per-term BM25 breakdown for each hit,
        # computed by the bit-exact explain_score over the query's
        # positive analyzed terms
        qtext = " ".join(_highlight_terms(query))
        if qtext:
            for h in hits:
                h["_explanation"] = Q.explain_score(reader, qtext, doc_id=h["_id"])
    resp: dict = {"hits": {"total": {"value": total, "relation": "eq"}, "hits": hits}}
    aggs = body.get("aggs") or body.get("aggregations")
    if aggs:
        resp["aggregations"] = _run_aggs(reader, aggs, ids)
    return resp


# --- ES query_string: the full-Lucene mini language ---------------------
# Grammar (the widely-used core): OR-expr of AND-exprs of unary atoms;
# atoms are terms, "quoted phrases" and parenthesized sub-expressions;
# NOT/- negates; bare juxtaposition takes default_operator (ES default
# OR). AND binds tighter than OR, exactly Lucene's precedence.

def _qs_tokens(text: str):
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c.isspace():
            i += 1
        elif c in "()":
            out.append((c, c))
            i += 1
        elif c == '"':
            j = text.find('"', i + 1)
            j = n if j < 0 else j
            out.append(("phrase", text[i + 1 : j]))
            i = j + 1
        elif c == "-":
            out.append(("not", "-"))
            i += 1
        else:
            j = i
            while j < n and not text[j].isspace() and text[j] not in '()"':
                j += 1
            w = text[i:j]
            up = w.upper()
            if up in ("AND", "&&"):
                out.append(("and", w))
            elif up in ("OR", "||"):
                out.append(("or", w))
            elif up == "NOT":
                out.append(("not", w))
            else:
                out.append(("term", w))
            i = j
    return out


def _qs_parse(tokens: list, pos: int, default_op: str):
    """OR level; returns (node, next_pos). Nodes: ("term", t) /
    ("phrase", p) / ("and", [children]) / ("or", [children]) /
    ("not", child)."""

    def atom(p):
        if p >= len(tokens):
            raise ValueError("query_string: unexpected end of input")
        kind, val = tokens[p]
        if kind == "(":
            node, p = or_level(p + 1)
            if p < len(tokens) and tokens[p][0] == ")":
                p += 1
            return node, p
        if kind == "not":
            node, p = atom(p + 1)
            return ("not", node), p
        if kind in ("term", "phrase"):
            return (kind, val), p + 1
        raise ValueError(f"query_string: unexpected token {val!r}")

    def and_level(p):
        node, p = atom(p)
        parts = [node]
        while p < len(tokens) and tokens[p][0] not in ("or", ")"):
            if tokens[p][0] == "and":
                nxt, p = atom(p + 1)  # explicit AND always binds here
                parts.append(nxt)
                continue
            if default_op == "or":
                # bare juxtaposition under default OR belongs to the OR level
                break
            nxt, p = atom(p)
            parts.append(nxt)
        return (parts[0] if len(parts) == 1 else ("and", parts)), p

    def or_level(p):
        node, p = and_level(p)
        parts = [node]
        while p < len(tokens) and tokens[p][0] != ")":
            if tokens[p][0] == "or":
                p += 1
            nxt, p = and_level(p)
            parts.append(nxt)
        return (parts[0] if len(parts) == 1 else ("or", parts)), p

    return or_level(pos)


def _qs_eval(reader, node, live) -> tuple[dict[int, float], bool]:
    """Evaluate a query_string AST to (score map, is_negation). Scores
    compose like Lucene's rewrite to BooleanQuery: AND intersects and
    sums, OR unions and sums, NOT excludes within its AND group."""
    kind = node[0]
    if kind == "term":
        return _score_map(reader, {"match": {DEFAULT_FIELD: node[1]}}, live), False
    if kind == "phrase":
        return (
            _score_map(reader, {"match_phrase": {DEFAULT_FIELD: node[1]}}, live),
            False,
        )
    if kind == "not":
        m, neg = _qs_eval(reader, node[1], live)
        if neg:
            raise ValueError("query_string: double negation is not supported")
        return m, True
    maps = [_qs_eval(reader, c, live) for c in node[1]]
    if kind == "or":
        if any(neg for _m, neg in maps):
            raise ValueError(
                "query_string: NOT is only supported inside an AND group"
            )
        out: dict[int, float] = {}
        for m, _neg in maps:
            for d, s in m.items():
                out[d] = out.get(d, 0.0) + s
        return out, False
    pos = [m for m, neg in maps if not neg]
    negs = [m for m, neg in maps if neg]
    if not pos:
        raise ValueError("query_string: a pure-negative AND group matches nothing")
    cand = set(pos[0])
    for m in pos[1:]:
        cand &= set(m)
    for m in negs:
        cand -= set(m)
    return {d: sum(m.get(d, 0.0) for m in pos) for d in cand}, False


def query_string_map(reader, text: str, live=None, default_operator: str = "or"):
    """ES query_string query — Lucene syntax (AND/OR/NOT/-, parentheses,
    quoted phrases, AND-over-OR precedence) against the analyzed default
    field.  Leaves are the verified match/match_phrase primitives; every
    leaf stays one bounded posting fetch, composition is dict algebra on
    the serving node (reference parity: the query language ES exposes on
    /_search?q= and {"query_string": ...})."""
    if live is None:
        live = reader._live
    node, p = _qs_parse(_qs_tokens(text), 0, str(default_operator).lower())
    m, neg = _qs_eval(reader, node, live)
    if neg:
        raise ValueError("query_string: a top-level pure negation matches nothing")
    return m
