"""ES `wildcard` FIELD TYPE analog: n-gram-accelerated glob matching.

Elasticsearch's `wildcard` field type (public docs: "wildcard field
type", backed by Lucene's WildcardField) answers `wildcard`/`regexp`
queries on long machine-generated strings (URLs, paths, log lines)
without a full-corpus scan: at index time the value is chopped into
lowercase 3-grams stored as postings; at query time the literal runs of
the pattern are chopped the same way, the 3-gram postings are
INTERSECTED to get a small candidate set, and only candidates are
verified against the real pattern ("approximate match then verify").
The reference syncs such fields into ES for exactly this query class
(connectors feed keyword/wildcard-mapped fields; e.g. path/url fields
in `connectors/sources/*.py` document payloads).

Spark-first shape:
- index side: one `explode` of per-value distinct 3-grams ->
  (gram, id) postings DataFrame, built ONCE and reusable across
  queries (like the term index). Pure JVM (`transform` + `substr`
  over a `sequence`), no UDF.
- query side: `required_grams(pattern)` -> filter postings to those
  grams (predicate pushes to the postings scan), groupBy(id) counting
  DISTINCT grams, keep ids with all required grams (classic conjunctive
  posting intersection, map-side combinable), then one semi-join back
  and an exact `LIKE` verify on the survivors only.
- leading wildcards are FREE here (unlike the lexicon-expansion
  wildcard term query, operators/query.py:expand_terms_wildcard, which
  must guard them): `*foo*` still yields gram "foo" to prune on.

At 100 TB: the postings frame is the thing you persist (bucketed by
gram); a query touches |required grams| posting lists + |candidates|
verify rows — never the corpus. Patterns whose literal runs are all
shorter than n carry no pruning power and fall back to the verify scan,
same as ES's own degenerate case.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connectors_spark.schema import sql_in

__all__ = [
    "required_grams",
    "glob_to_like",
    "build_gram_postings",
    "wildcard_field_match",
]


def required_grams(pattern: str, n: int = 3) -> list[str]:
    """Sorted distinct n-grams of the pattern's literal runs (text
    between `*`/`?` wildcards), lowercased. Runs shorter than `n`
    contribute nothing (they can't anchor a posting) — the final
    verify still enforces them."""
    grams: set[str] = set()
    for run in re.split(r"[*?]", pattern.lower()):
        for i in range(len(run) - n + 1):
            grams.add(run[i:i + n])
    return sorted(grams)


def glob_to_like(pattern: str) -> str:
    """Glob (`*`/`?`) -> SQL LIKE pattern, escaping literal `%`/`_`
    with backslash (both Spark's `Column.like` and DuckDB default to
    backslash escape)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _value_grams(col: Column, n: int) -> Column:
    """Distinct lowercase n-grams of a string column, pure JVM:
    transform over a 1..len-n+1 sequence with Column.substr.
    `sequence(1, 0)` would generate a DESCENDING [1, 0] (not empty),
    so short strings are guarded to an empty gram range."""
    low = F.lower(col)
    hi = F.length(low) - (n - 1)
    idx = F.when(hi >= 1, F.sequence(F.lit(1), hi)) \
           .otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(idx, lambda i: low.substr(i, F.lit(n))))


def build_gram_postings(df: DataFrame, field: str, id_col: str,
                        n: int = 3) -> DataFrame:
    """Index side: (gram, id) postings for the wildcard field. Build
    once, persist/bucket by gram, reuse across queries."""
    return (df.select(F.col(id_col).alias("_wid"),
                      F.explode(_value_grams(F.col(field), n)).alias("gram"))
            .select("gram", "_wid"))


def wildcard_field_match(df: DataFrame, field: str, id_col: str,
                         pattern: str, n: int = 3,
                         postings: DataFrame | None = None) -> DataFrame:
    """Rows of `df` whose lowercase `field` matches the glob `pattern`
    (case-insensitive, whole-value, like ES wildcard-field queries).

    Candidate pruning via the gram postings when the pattern has at
    least one literal run of length >= n; exact verify (anchored LIKE)
    always runs last, so semantics never depend on the pruning."""
    like = glob_to_like(pattern.lower())
    verify = F.lower(F.col(field)).like(like)
    grams = required_grams(pattern, n)
    if not grams:
        return df.where(verify)
    if postings is None:
        postings = build_gram_postings(df, field, id_col, n)
    cands = (postings
             .where(sql_in("gram", grams))
             .groupBy("_wid")
             .agg(F.countDistinct("gram").alias("_ng"))
             .where(F.col("_ng") == len(grams))
             .select("_wid"))
    return (df.join(cands, F.col(id_col) == F.col("_wid"), "left_semi")
            .where(verify))
