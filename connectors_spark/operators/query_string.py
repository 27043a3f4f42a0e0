"""ES `query_string` / `simple_query_string` analog: parse Lucene query
syntax into the engine's bool-query clause frame and score it.

The reference exposes synced content through Elasticsearch, where
`query_string` is the human-facing search-box entry point (Lucene
classic QueryParser semantics are public). Supported subset:

- bare terms            -> `should` clauses (default_operator=OR)
- `+term`               -> `must` clause
- `-term`               -> `must_not` clause
- `term^2.5`            -> per-clause boost (score multiplier)
- `"quoted phrase"`     -> positional phrase clause, FILTER context
  (`+"p"` must contain, `-"p"` must not); phrases gate matching but do
  not add score — a documented simplification vs Lucene PhraseQuery
  scoring (phrase-frequency BM25), kept identical on the DuckDB oracle.

Field-scoped tokens (`author:smith`, `+lang:fr`, `-source:bad^2`)
route to that field's index with per-field BM25 statistics (Lucene
per-field term stats, same machinery as multi_match); a clause on a
field with no index behaves like ES on an unmapped field — it matches
no documents (so a scoped must empties the query, a scoped should is
inert, a scoped must_not excludes nothing).

Unsupported syntax, handled leniently (ES lenient-mode style):
`field:"phrase"` loses its scope — the phrase still gates, but on the
default field (positional indexes are per-default-field here);
`~` fuzziness markers are ignored (the term still matches exactly);
parentheses act as whitespace; AND/OR/NOT connectives are not keywords
(they normalize to ordinary lowercase terms). Terms are normalized with
the same analyzer convention as the index (lowercase alnum runs).

Scale shape: parsing is driver-side over the tiny query set; scoring
reuses the distinct-term-weight pipeline (weights computed once per
(term, doc), broadcast clause expansion) and ends in the shared
one-exchange (query, doc) tail of operators/query.py; phrase gating
joins ONLY the phrase terms' postings positions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connectors_spark import BM25_B, BM25_K1
from connectors_spark.operators.build import IndexFrames
from connectors_spark.operators.query import (
    _by_query,
    _distinct_term_weights,
    _topk_tail,
    _with_dl,
)

_TOKEN_RE = re.compile(
    r'(?P<prefix>[+-])?'
    r'(?:"(?P<phrase>[^"]*)"|(?P<term>[^\s"^]+))'
    r'(?:\^(?P<boost>\d+(?:\.\d+)?))?'
)
_TERM_RE = re.compile(r"[a-z0-9]+")

_ROLE = {"+": "must", "-": "must_not", None: "should", "": "should"}


def parse_query_string(q: str) -> dict:
    """-> {"clauses": [(role, term, boost)],
           "scoped": [(role, field, term, boost)],
           "phrases": [(role, [terms])]}.

    Roles follow the Lucene classic parser: '+' requires, '-' prohibits,
    bare means optional-scoring. Multi-token bare "terms" that normalize
    to several alnum runs (e.g. `don't`) contribute each run.
    `field:term` lands in "scoped" with the field name normalized like a
    term (the default-field clause list keeps its 3-tuple shape)."""
    clauses: list[tuple[str, str, float]] = []
    scoped: list[tuple[str, str, str, float]] = []
    phrases: list[tuple[str, list[str]]] = []
    for m in _TOKEN_RE.finditer(q):
        role = _ROLE[m.group("prefix")]
        boost = float(m.group("boost") or 1.0)
        if m.group("phrase") is not None:
            terms = _TERM_RE.findall(m.group("phrase").lower())
            if len(terms) == 1:  # one-word "phrase" is just a term
                clauses.append((role, terms[0], boost))
            elif terms:
                # phrase role: must/must_not gate; bare phrases gate too
                # (filter context — see module docstring)
                phrases.append(("must_not" if role == "must_not"
                                else "must", terms))
        else:
            raw = m.group("term")
            if ":" in raw:
                fld_raw, _, rest = raw.partition(":")
                flds = _TERM_RE.findall(fld_raw.lower())
                terms = _TERM_RE.findall(rest.lower())
                if flds and terms:
                    for t in terms:
                        scoped.append((role, flds[-1], t, boost))
                elif terms:  # `:term` — no field name: default field
                    for t in terms:
                        clauses.append((role, t, boost))
                continue  # `field:` with no term, or `field:"p"`: dropped
            for t in _TERM_RE.findall(raw.lower()):
                clauses.append((role, t, boost))
    return {"clauses": clauses, "scoped": scoped, "phrases": phrases}


def _phrase_matches(index: IndexFrames, terms: list[str]) -> DataFrame:
    """(doc_id, p0): one row per phrase OCCURRENCE (start position) —
    incremental position join over ONLY the phrase terms' postings
    (positions were stored at build time; the join frame is |phrase|
    narrow posting slices)."""
    pos = index.postings.select(
        "term", "doc_id", F.explode("positions").alias("pos")
    )
    cur = pos.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for i, t in enumerate(terms[1:], start=1):
        ti = pos.filter(F.col("term") == t).select(
            F.col("doc_id").alias("_d"), F.col("pos").alias(f"p{i}")
        )
        cur = cur.join(
            ti, (cur.doc_id == ti._d) & (ti[f"p{i}"] == F.col("p0") + i)
        ).drop("_d")
    return cur.select("doc_id", "p0")


def _phrase_doc_ids(index: IndexFrames, terms: list[str]) -> DataFrame:
    """doc_ids containing `terms` consecutively (filter-context gate)."""
    return _phrase_matches(index, terms).select("doc_id").distinct()


def _phrase_weights(index: IndexFrames, terms: list[str],
                    k1: float, b: float) -> DataFrame:
    """(doc_id, _pw): Lucene PhraseQuery BM25 contribution — tf is the
    PHRASE frequency (occurrences of the exact consecutive sequence),
    idf is the SUM of the constituent terms' idfs (public Lucene
    PhraseWeight semantics under BM25Similarity)."""
    from connectors_spark.operators.score import idf_col, tf_norm_col

    spark = index.postings.sparkSession
    tdf = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    sidf = index.lexicon.join(F.broadcast(tdf), "term").agg(
        F.sum(idf_col(index.n_docs, F.col("df"))).alias("_sidf"))
    pf = _phrase_matches(index, terms).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("pf"))
    return (
        _with_dl(index, pf).crossJoin(F.broadcast(sidf))
        .select(
            "doc_id",
            (F.col("_sidf")
             * tf_norm_col(F.col("pf"), F.col("dl"), index.avgdl, k1, b)
             ).alias("_pw"),
        )
    )


def score_query_string(
    index: IndexFrames,
    queries: list[dict],
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_scores: int | None = None,
    field_indexes: dict[str, IndexFrames] | None = None,
    phrase_scoring: bool = False,
) -> DataFrame:
    """(query_id, rank, doc_id, score) for parsed query strings.

    `queries`: [{"query_id", "query_string", "k"}]. Scoring clauses
    (must + should) contribute boost * BM25 weight; must terms are all
    required, any must_not term excludes, phrases gate in filter
    context. Docs enter the candidate set only through a scoring-clause
    term hit (matches the oracle contract; see module docstring).

    `field_indexes` maps field names to their per-field indexes (built
    over the same doc set) for `field:term` scoped clauses; each field
    scores with its OWN BM25 statistics, like multi_match. A scoped
    clause whose field has no index matches no documents (ES unmapped-
    field semantics): its must is unsatisfiable, its should/must_not
    are inert. The plan stays the shared one-exchange (query, doc) tail —
    per-field distinct-term weights are unioned with a field tag before
    the agg; clause counts, phrase gates and phrase scores ride it.

    `phrase_scoring=True` upgrades quoted must-phrases from pure filter
    context to Lucene PhraseQuery scoring: the phrase adds
    sum(term idfs) * tf_norm(phrase_freq, dl) to matching docs (boosts
    on phrases are ignored either way). must_not phrases always gate
    only."""
    spark: SparkSession = index.postings.sparkSession
    rows, phrase_jobs = [], []
    known = set(field_indexes or ())
    for q in queries:
        parsed = parse_query_string(q["query_string"])
        for role, term, boost in parsed["clauses"]:
            rows.append((q["query_id"], int(q["k"]), role, "", term, boost))
        for role, fld, term, boost in parsed["scoped"]:
            # unknown field: keep the row (it must count toward the
            # query's required-must total) but tag it unmatched
            f = fld if fld in known else "\x00" + fld
            rows.append((q["query_id"], int(q["k"]), role, f, term, boost))
        for role, terms in parsed["phrases"]:
            phrase_jobs.append((q["query_id"], role, terms))
    clauses = spark.createDataFrame(
        rows,
        "query_id string, k int, role string, field string, "
        "term string, boost double",
    )

    tw_all = None
    for fname in sorted({r[3] for r in rows}):
        idx_f = index if fname == "" else (field_indexes or {}).get(fname)
        if idx_f is None:
            continue  # unmapped field: contributes nothing
        dterms_f = clauses.filter(F.col("field") == fname) \
            .select("term").distinct()
        tw_f = _distinct_term_weights(idx_f, dterms_f, k1, b) \
            .withColumn("field", F.lit(fname))
        tw_all = tw_f if tw_all is None else tw_all.unionByName(tw_f)
    if tw_all is None:
        # empty result, doc_id typed from the index (long or string)
        return (
            index.postings.select("doc_id").limit(0)
            .withColumn("query_id", F.lit("").cast("string"))
            .withColumn("rank", F.lit(0).cast("int"))
            .withColumn("score", F.lit(0.0))
            .select("query_id", "rank", "doc_id", "score")
        )
    contrib = tw_all.join(F.broadcast(clauses), ["field", "term"])
    scoring = F.col("role").isin("must", "should")
    fterm = F.concat_ws("\x01", F.col("field"), F.col("term"))

    # per doc, n_must == _req_must iff every must clause matched, counted
    # with or without repeats; plain counts keep the agg on the tail's
    # exchange (several count_distincts plan an Expand that shuffles again)
    def n_role(role):
        return F.count(F.when(F.col("role") == role, fterm))

    req = clauses.groupBy("query_id").agg(n_role("must").alias("_req_must"))

    def having(out: DataFrame) -> DataFrame:
        out = out.join(F.broadcast(req), "query_id").filter(
            (F.col("_n_must") == F.col("_req_must")) & (F.col("_n_not") == 0)
        )
        out = _phrase_gates(index, out, phrase_jobs)
        if not phrase_scoring:
            return out
        pw_all = None
        for qid, role, terms in phrase_jobs:
            if role != "must":
                continue
            pw = _phrase_weights(index, terms, k1, b) \
                .withColumn("query_id", F.lit(qid))
            pw_all = pw if pw_all is None else pw_all.unionByName(pw)
        if pw_all is None:
            return out
        # phrase-gated docs all have pf >= 1; the broadcast left join
        # adds the phrase contribution without a second agg shuffle
        pw_all = pw_all.groupBy("query_id", "doc_id").agg(
            F.sum("_pw").alias("_pw"))
        return (
            out.join(F.broadcast(pw_all), ["query_id", "doc_id"], "left")
            .withColumn(
                "score",
                F.col("score") + F.coalesce(F.col("_pw"), F.lit(0.0)))
            .drop("_pw")
        )

    return _topk_tail(
        contrib,
        F.sum(F.when(scoring, F.col("w") * F.col("boost"))
              .otherwise(F.lit(0.0))),
        aggs=(n_role("must").alias("_n_must"),
              n_role("must_not").alias("_n_not")),
        having=having,
        round_scores=round_scores,
    )


def _phrase_gates(index: IndexFrames, out: DataFrame,
                  phrase_jobs: list[tuple[str, str, list[str]]]) -> DataFrame:
    """`out` (query_id, doc_id, ...) restricted by each (query_id, role,
    terms) phrase job: a `must` phrase keeps only that query's docs
    containing it, a `must_not` phrase drops them. The phrase doc sets
    are tiny distinct-doc_id frames, joined broadcast semi/anti."""
    for qid, role, terms in phrase_jobs:
        ph = F.broadcast(_phrase_doc_ids(index, terms))
        in_q = F.col("query_id") == qid
        matched = out.filter(in_q)
        matched = (matched.join(ph, "doc_id", "left_semi") if role == "must"
                   else matched.join(ph, "doc_id", "left_anti"))
        out = out.filter(~in_q).unionByName(matched)
    return out


_SQS_TOKEN_RE = re.compile(r'(?P<neg>-)?(?:"(?P<phrase>[^"]*)"|(?P<body>\S+))')


def parse_simple_query_string(q: str) -> dict:
    """ES `simple_query_string` parser (lenient by contract — invalid
    syntax is text, never an error). Supported operators:

    - whitespace / `|`  -> OR between alternatives (default_operator=OR)
    - `+`               -> AND: joins the next token into the current
                           AND-group (infix, `a + b` or embedded `a+b`
                           — the alnum runs of one body token always
                           share a group)
    - `-term`           -> global must_not; `-"phrase"` -> must_not
                           phrase gate
    - `term*`           -> prefix clause (trailing star only)
    - `"quoted phrase"` -> phrase gate (filter context, like
                           score_query_string's documented convention)

    -> {"alts": [[(kind, value), ...], ...],   # OR of AND-groups
        "must_not": [terms],
        "phrases": [(role, [terms])]}
    kind is 'term' | 'prefix'. Leniency: stray `+`/`|`/`*` connectives
    are dropped; a negated prefix keeps only its terms (star ignored);
    one-word phrases demote to plain terms."""
    alts: list[list[tuple[str, str]]] = []
    must_not: list[str] = []
    phrases: list[tuple[str, list[str]]] = []
    pending_join = False

    def emit(clauses: list[tuple[str, str]], join: bool):
        if not clauses:
            return
        if join and alts:
            alts[-1].extend(clauses)
        else:
            alts.append(clauses)

    for m in _SQS_TOKEN_RE.finditer(q):
        neg = m.group("neg") == "-"
        if m.group("phrase") is not None:
            terms = _TERM_RE.findall(m.group("phrase").lower())
            if len(terms) == 1 and neg:
                must_not.append(terms[0])
            elif len(terms) == 1:
                emit([("term", terms[0])], pending_join)
            elif terms:
                phrases.append(("must_not" if neg else "must", terms))
            pending_join = False
            continue
        body = m.group("body")
        # '|' and '+' are character-level infix connectives (Lucene
        # SimpleQueryParser): 'a|b', '| b', 'a +b' all parse the same
        for pi, part in enumerate(body.split("|")):
            if pi > 0:
                pending_join = False  # '|' -> OR
            for si, sub in enumerate(part.split("+")):
                if si > 0:
                    pending_join = True  # '+' -> AND with previous
                if not sub:
                    continue
                if neg:
                    must_not.extend(_TERM_RE.findall(sub.lower()))
                    pending_join = False
                    continue
                is_prefix = sub.endswith("*")
                runs = _TERM_RE.findall(sub.lower())
                if not runs:
                    continue
                clauses = [("term", t) for t in runs]
                if is_prefix:
                    clauses[-1] = ("prefix", runs[-1])
                emit(clauses, pending_join)
                pending_join = False
    return {"alts": alts, "must_not": must_not, "phrases": phrases}


def score_simple_query_string(
    index: IndexFrames,
    queries: list[dict],
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_scores: int | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score) for simple_query_string queries
    (`queries`: [{"query_id", "query_string", "k"}]).

    Lucene SimpleQueryParser semantics over the DNF from
    parse_simple_query_string: a doc is a candidate iff at least one
    OR-alternative matches COMPLETELY (every clause present); its score
    is the sum over fully-matched alternatives of their clause scores —
    BM25 weight for term clauses, constant 1.0 for prefix clauses
    (Lucene PrefixQuery CONSTANT_SCORE rewrite). Global must_not terms
    exclude; quoted phrases gate in filter context.

    Plan: prefix clauses expand against the broadcast-joined lexicon
    (startswith on the matched slice); all referenced terms run through
    the shared distinct-term weight pipeline once; then three map-side-
    combinable aggs keyed on (query, doc[, alt, clause]), all over ONE
    query_id exchange (the clause and alternative aggs run on the
    `_by_query` partitioning the shared tail reuses) — no per-query work
    on the driver beyond parsing."""
    spark: SparkSession = index.postings.sparkSession
    crows, mnrows, phrase_jobs = [], [], []
    for q in queries:
        p = parse_simple_query_string(q["query_string"])
        for ai, alt in enumerate(p["alts"]):
            for ci, (kind, val) in enumerate(alt):
                crows.append((q["query_id"], int(q["k"]), ai,
                              f"{ai}_{ci}", kind, val))
        for t in p["must_not"]:
            mnrows.append((q["query_id"], t))
        for role, terms in p["phrases"]:
            phrase_jobs.append((q["query_id"], role, terms))
    if not crows:
        return (
            index.postings.select("doc_id").limit(0)
            .withColumn("query_id", F.lit("").cast("string"))
            .withColumn("rank", F.lit(0).cast("int"))
            .withColumn("score", F.lit(0.0))
            .select("query_id", "rank", "doc_id", "score")
        )
    cl = spark.createDataFrame(
        crows,
        "query_id string, k int, alt_id int, clause_id string, "
        "kind string, pat string",
    )
    lex = index.lexicon.select("term")
    clx = (
        cl.filter(F.col("kind") == "term")
        .withColumn("term", F.col("pat"))
        .unionByName(
            lex.join(
                F.broadcast(cl.filter(F.col("kind") == "prefix")),
                F.col("term").startswith(F.col("pat")),
            ).select(*cl.columns, "term")
        )
    )
    dterms = clx.select("term").distinct()
    if mnrows:
        mn = spark.createDataFrame(mnrows, "query_id string, term string")
        dterms = dterms.unionByName(mn.select("term")).distinct()
    tw = _distinct_term_weights(index, dterms, k1, b)
    contrib = _by_query(tw.join(F.broadcast(clx), "term"))
    cagg = (
        contrib.groupBy("query_id", "k", "alt_id", "clause_id", "kind",
                        "doc_id")
        .agg(F.max("w").alias("_w"))
        .select(
            "query_id", "k", "alt_id", "clause_id", "doc_id",
            F.when(F.col("kind") == "prefix", F.lit(1.0))
            .otherwise(F.col("_w")).alias("sc"),
        )
    )
    aagg = cagg.groupBy("query_id", "k", "alt_id", "doc_id").agg(
        F.count_distinct(F.col("clause_id")).alias("_nm"),
        F.sum("sc").alias("_ascore"),
    )
    areq = cl.groupBy("query_id", "alt_id").agg(
        F.count_distinct(F.col("clause_id")).alias("_req"))
    full = (
        aagg.join(F.broadcast(areq), ["query_id", "alt_id"])
        .filter(F.col("_nm") == F.col("_req"))
        .select("query_id", "k", "doc_id", F.col("_ascore").alias("w"))
    )

    def having(out: DataFrame) -> DataFrame:
        if mnrows:
            mndocs = tw.join(F.broadcast(mn), "term") \
                .select("query_id", "doc_id").distinct()
            out = out.join(F.broadcast(mndocs), ["query_id", "doc_id"],
                           "left_anti")
        return _phrase_gates(index, out, phrase_jobs)

    return _topk_tail(full, having=having, round_scores=round_scores)


_TPL_VAR_RE = re.compile(r"\{\{\s*(\w+)\s*\}\}")


def render_search_template(template: str, params: dict) -> str:
    """ES search template analog (mustache-substituted stored queries):
    replace every {{var}} with its parameter value. Strict on missing
    parameters (raises KeyError naming the variable — ES errors the
    same way), lenient on extra params. Values are substituted as text
    into the query_string syntax, matching ES's template-then-parse
    order."""
    def sub(m):
        name = m.group(1)
        if name not in params:
            raise KeyError(f"search template parameter missing: {name!r}")
        return str(params[name])

    return _TPL_VAR_RE.sub(sub, template)


def validate_query_string(q: str) -> tuple[bool, str]:
    """ES `_validate/query?rewrite=true` analog for the query_string
    entry point: parse the query leniently (this module's grammar) and
    return (valid, rewritten) where `rewritten` is the canonical
    Lucene-ish rendering of what WILL execute — the rewrite ES returns
    so users can see how their query was understood. valid=False only
    when nothing parseable remains (ES reports a query that matches no
    syntax as invalid; lenient-mode drops are visible in the rewrite).

    Rendering order is parse order within each clause family:
    default-field clauses, field-scoped clauses, then phrases; roles
    render as Lucene prefixes (`+` must / `-` must_not / bare should)
    and non-1 boosts as `^b`."""
    parsed = parse_query_string(q)
    frags: list[str] = []
    pre = {"must": "+", "must_not": "-", "should": ""}
    for role, term, boost in parsed["clauses"]:
        b = f"^{boost:g}" if boost != 1.0 else ""
        frags.append(f"{pre[role]}{term}{b}")
    for role, field, term, boost in parsed["scoped"]:
        b = f"^{boost:g}" if boost != 1.0 else ""
        frags.append(f"{pre[role]}{field}:{term}{b}")
    for role, terms in parsed["phrases"]:
        frags.append(f"{pre[role]}\"{' '.join(terms)}\"")
    if not frags:
        return False, ""
    return True, " ".join(frags)
