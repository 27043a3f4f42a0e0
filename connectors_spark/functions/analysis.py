"""Canonical analyzer — shared verbatim by build side, query side and oracles.

The reference delegates analysis to Elasticsearch's per-language analyzer
chain (reference: app/connectors_service/connectors/es/language_data.yml:
1-111; index creation app/connectors_service/connectors/es/
management_client.py:53-59): lowercase -> stop words -> stemmer (+ elision
for fr/it). We define the engine's chain once: lowercase, split on runs of
non-alphanumeric characters, drop empties, optional `_english_` stop
filter, optional stemmer (functions/stem.py). The default chain (no stop,
no stem) and the `minimal_english` stemmer are pure JVM Column expressions
(whole-stage-codegen'd — no Python in the hot path) mirrored 1:1 by
`tokenize_py` for the NumPy oracle and by `tokenize_sql_duckdb` for the
DuckDB correctness oracle. The `english` (snowball/Porter2) stemmer is the
one deliberate Arrow UDF (dictionary-light algorithm, vectorized per
batch with memoization — see `tokenize`).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connectors_spark import TOKEN_SPLIT_RE
from connectors_spark.functions.stem import (
    STEMMERS,
    english_py,
    kstem_py,
    minimal_english_col,
    minimal_english_py,
    minimal_english_sql,
)

_PY_SPLIT = re.compile(TOKEN_SPLIT_RE)

# Lucene's `_english_` stop set (public Lucene EnglishAnalyzer default).
ENGLISH_STOP = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()


def _check_stemmer(stemmer: str) -> None:
    if stemmer not in STEMMERS:
        raise ValueError(f"unknown stemmer {stemmer!r}; expected one of {STEMMERS}")


def tokens_col(text: Column, stop_words: list[str] | None = None,
               stemmer: str = "none") -> Column:
    """array<string> of tokens for a text column (JVM-side, codegen).

    Supports the JVM-expressible part of the chain; the `english`
    (snowball) stemmer needs the DataFrame-level `tokenize` (Arrow UDF).
    """
    _check_stemmer(stemmer)
    toks = F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != "")
    if stop_words:
        toks = F.filter(toks, lambda t: ~t.isin(*stop_words))
    if stemmer == "minimal_english":
        toks = F.transform(toks, minimal_english_col)
    elif stemmer in ("english", "kstem"):
        raise ValueError(
            f"the {stemmer!r} stemmer is not expressible as a Column; "
            "use tokenize()/stem_tokens_arr (Arrow UDF path)"
        )
    return toks


def stem_tokens_arr(stemmer: str = "english") -> "F.pandas_udf":
    """Arrow-batched Python stemmer ('english' snowball or 'kstem') over
    an array<string> column. Memoizes per batch — the Zipf head means a
    handful of distinct tokens dominate, so the stemmer runs
    ~|vocab-per-batch| times, not |tokens|."""
    fn = english_py if stemmer == "english" else kstem_py

    @F.pandas_udf("array<string>")
    def _stem(arrs: pd.Series) -> pd.Series:
        memo: dict[str, str] = {}

        def one(ts):
            if ts is None:  # NULL text: NULL tokens, like tokens_col
                return None
            out = []
            for t in ts:
                s = memo.get(t)
                if s is None:
                    s = fn(t)
                    memo[t] = s
                out.append(s)
            return out

        return arrs.map(one)

    return _stem


def analyzed_tokens(text: Column, stop_words: list[str] | None = None,
                    stemmer: str = "none") -> Column:
    """array<string> of the full analyzer chain for a text column: the
    JVM expression of `tokens_col`, or — for the `english`/`kstem`
    stemmers — that array through the Arrow stemmer UDF."""
    _check_stemmer(stemmer)
    if stemmer in ("english", "kstem"):
        return stem_tokens_arr(stemmer)(tokens_col(text, stop_words, "none"))
    return tokens_col(text, stop_words, stemmer)


def tokenize(df: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id",
             stop_words: list[str] | None = None,
             stemmer: str = "none") -> DataFrame:
    """(doc_id, pos, term) — one row per token; pos indexes the token
    stream (post stop/stem, matching Lucene's filter-chain positions)."""
    return df.select(
        F.col(doc_id_col).alias("doc_id"),
        F.posexplode(analyzed_tokens(F.col(text_col), stop_words, stemmer))
        .alias("pos", "term"),
    )


def tokenize_py(text: str, stop_words: list[str] | None = None,
                stemmer: str = "none") -> list[str]:
    """Single-process mirror of the chain for the NumPy oracle."""
    _check_stemmer(stemmer)
    toks = [t for t in _PY_SPLIT.split((text or "").lower()) if t]
    if stop_words:
        stop = set(stop_words)
        toks = [t for t in toks if t not in stop]
    if stemmer == "minimal_english":
        toks = [minimal_english_py(t) for t in toks]
    elif stemmer == "english":
        toks = [english_py(t) for t in toks]
    elif stemmer == "kstem":
        toks = [kstem_py(t) for t in toks]
    return toks


def tokenize_sql_duckdb(text_expr: str, stop_words: list[str] | None = None,
                        stemmer: str = "none") -> str:
    """DuckDB fragment producing the same token array as `tokens_col`.
    (`english` is not available: DuckDB's snowball needs the fts
    extension, absent in this environment — pytest gates cover it.)"""
    _check_stemmer(stemmer)
    arr = (
        f"list_filter(regexp_split_to_array(lower({text_expr}), "
        f"'{TOKEN_SPLIT_RE}'), t -> t <> '')"
    )
    if stop_words:
        stops = ", ".join(f"'{w}'" for w in stop_words)
        arr = f"list_filter({arr}, t -> t NOT IN ({stops}))"
    if stemmer == "minimal_english":
        arr = f"list_transform({arr}, t -> {minimal_english_sql('t')})"
    elif stemmer in ("english", "kstem"):
        raise ValueError(f"{stemmer!r} has no DuckDB twin here (pytest-gated)")
    return arr


# --------------------------------------------------------------------
# CJK bigram stage — language_data.yml ja/ko/zh postpended cjk_bigram
# --------------------------------------------------------------------

# han + hiragana + katakana + hangul — Lucene CJKBigramFilter's default
# combined class (reference analyzers postpend cjk_bigram for ja/ko/zh,
# language_data.yml:74-85)
CJK_CLASS = "぀-ヿ㐀-䶿一-鿿가-힯"
CJK_SPLIT_RE = f"[^a-z0-9{CJK_CLASS}]+"


def cjk_tokens_col(text: Column) -> Column:
    """array<string>: lowercase, split scripts apart, then expand every
    CJK run into overlapping character bigrams (a lone CJK char stays a
    unigram; latin/digit tokens pass through). Pure JVM expressions."""
    t = F.lower(text)
    t = F.regexp_replace(t, f"([a-z0-9])([{CJK_CLASS}])", "$1 $2")
    t = F.regexp_replace(t, f"([{CJK_CLASS}])([a-z0-9])", "$1 $2")
    toks = F.filter(F.split(t, CJK_SPLIT_RE), lambda x: x != "")

    def expand(tok: Column) -> Column:
        n = F.length(tok)
        is_cjk = tok.rlike(f"^[{CJK_CLASS}]+$")
        bigrams = F.transform(
            F.sequence(F.lit(1), n - 1), lambda i: tok.substr(i, F.lit(2))
        )
        return F.when(is_cjk & (n >= 2), bigrams).otherwise(F.array(tok))

    return F.flatten(F.transform(toks, expand))


def cjk_tokenize_py(text: str) -> list[str]:
    """Python twin of cjk_tokens_col (oracle side)."""
    t = (text or "").lower()
    t = re.sub(f"([a-z0-9])([{CJK_CLASS}])", r"\1 \2", t)
    t = re.sub(f"([{CJK_CLASS}])([a-z0-9])", r"\1 \2", t)
    out: list[str] = []
    for tok in re.split(CJK_SPLIT_RE, t):
        if not tok:
            continue
        if len(tok) >= 2 and re.fullmatch(f"[{CJK_CLASS}]+", tok):
            out.extend(tok[i:i + 2] for i in range(len(tok) - 1))
        else:
            out.append(tok)
    return out


def cjk_tokenize_sql_duckdb(text_expr: str) -> str:
    """DuckDB twin of cjk_tokens_col."""
    t = (
        f"regexp_replace(regexp_replace(lower({text_expr}), "
        f"'([a-z0-9])([{CJK_CLASS}])', '\\1 \\2', 'g'), "
        f"'([{CJK_CLASS}])([a-z0-9])', '\\1 \\2', 'g')"
    )
    toks = f"list_filter(regexp_split_to_array({t}, '{CJK_SPLIT_RE}'), x -> x <> '')"
    return (
        f"flatten(list_transform({toks}, tok -> "
        f"CASE WHEN length(tok) >= 2 AND regexp_full_match(tok, '[{CJK_CLASS}]+') "
        f"THEN list_transform(range(1, length(tok)), i -> tok[i:i+1]) "
        f"ELSE [tok] END))"
    )


# --------------------------------------------------------------------
# ASCII folding stage — Lucene ASCIIFoldingFilter analog (ES analyzers
# commonly prepend `asciifolding`; the reference's default analyzers
# inherit it via ES language defaults for several languages)
# --------------------------------------------------------------------

# char-for-char foldable subset (Latin-1 Supplement + Latin Extended-A
# lowercase forms; uppercase is handled by folding AFTER lower()).
# Lucene's filter covers far more of Unicode including 1->2 expansions
# (ß -> ss, æ -> ae) which translate() cannot express — documented
# boundary; the common European accents below are the practical bulk.
FOLD_FROM = "áàâäãåāăąçćčďéèêëēėęěíìîïīįıñńňóòôöõøōőúùûüūůűýÿžźżšśşťğțđļľŕŗřłŵŝĝĥĵŭ"
FOLD_TO = "aaaaaaaaacccdeeeeeeeeiiiiiiinnnoooooooouuuuuuuyyzzzssstgtdllrrrlwsghju"
assert len(FOLD_FROM) == len(FOLD_TO)


def fold_ascii(text: Column) -> Column:
    """Accent-fold a (lowercased) text column — pure JVM translate()."""
    return F.translate(F.lower(text), FOLD_FROM, FOLD_TO)


_FOLD_TRANS = str.maketrans(FOLD_FROM, FOLD_TO)


def fold_ascii_py(text: str) -> str:
    return (text or "").lower().translate(_FOLD_TRANS)


def fold_ascii_sql(text_expr: str) -> str:
    """DuckDB twin of fold_ascii (translate has identical semantics)."""
    return f"translate(lower({text_expr}), '{FOLD_FROM}', '{FOLD_TO}')"


def analyze_text(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "input_id",
    stop_words: list[str] | None = None,
    stemmer: str = "minimal_english",
) -> "DataFrame":
    """ES `_analyze` API analog: run the analysis chain over probe
    strings and return per-token debug output — (id, position, token,
    stemmed, start_offset, end_offset) — with ES's exact conventions:
    offsets index the ORIGINAL string (0-based start, exclusive end),
    positions are assigned BEFORE stopword removal so removed stopwords
    leave position gaps (Lucene enable_position_increments), and the
    stemmed column shows the token after the filter chain.

    Offsets come from a character-island pass (explode characters, mark
    token chars, gaps-and-islands grouping) — pure JVM expressions that
    the DuckDB oracle mirrors verbatim. O(text length) rows per input:
    this is the bounded DEBUG surface (ES caps _analyze payloads);
    corpus-scale tokenization stays on tokens_col, which never
    materializes per-character rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    low = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
    # guard: sequence(1, 0) would yield a DESCENDING [1, 0]
    seq = F.when(F.length("_t") > 0,
                 F.sequence(F.lit(1), F.length("_t"))
                 ).otherwise(F.array().cast("array<int>"))
    chars = low.select(
        id_col, F.explode(seq).alias("i"), F.col("_t")
    ).select(id_col, "i", F.substring(F.col("_t"), F.col("i"), 1)
             .alias("c")).filter(F.col("c").rlike("[a-z0-9]"))
    wrn = Window.partitionBy(id_col).orderBy("i")
    isl = chars.withColumn("g", F.col("i") - F.row_number().over(wrn))
    toks = isl.groupBy(id_col, "g").agg(
        F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s["c"])).alias("token"),
        (F.min("i") - 1).cast("int").alias("start_offset"),
        F.max("i").cast("int").alias("end_offset"),
    )
    wpos = Window.partitionBy(id_col).orderBy("start_offset")
    out = toks.withColumn(
        "position", (F.row_number().over(wpos) - 1).cast("int"))
    if stop_words:
        out = out.filter(~F.col("token").isin(*stop_words))
    if stemmer == "minimal_english":
        stemmed = minimal_english_col(F.col("token"))
    elif stemmer == "none":
        stemmed = F.col("token")
    else:
        raise ValueError(f"analyze_text: unsupported stemmer {stemmer!r}")
    return out.select(
        id_col, "position", "token", stemmed.alias("stemmed"),
        "start_offset", "end_offset")


# --------------------------------------------------------------------
# Shingle stage — Lucene ShingleFilter / ES `shingle` token filter
# --------------------------------------------------------------------
# The reference's index-phrase support rides Elasticsearch's shingle
# filter (Lucene ShingleFilter; ES analysis-shingle-tokenfilter docs,
# and the `index_phrases` mapping option that indexes 2-shingles).
# Emission order is position-major like Lucene's graph: at each token
# position emit the unigram (if output_unigrams) then the n-shingles
# that START there, smallest n first.  No stopword fillers (the engine
# chain drops stops before shingling, so there are no holes to fill).


def shingles_col(toks: Column, min_shingle_size: int = 2,
                 max_shingle_size: int = 2,
                 output_unigrams: bool = True,
                 separator: str = " ") -> Column:
    """array<string> of shingles from a token array — pure JVM
    higher-order expressions (transform/slice/array_join), codegen'd."""
    if not 2 <= min_shingle_size <= max_shingle_size:
        raise ValueError("need 2 <= min_shingle_size <= max_shingle_size")

    def at(i: Column) -> Column:
        outs = []
        if output_unigrams:
            outs.append(F.array(F.element_at(toks, i)))
        for n in range(min_shingle_size, max_shingle_size + 1):
            outs.append(
                F.when(i + F.lit(n - 1) <= F.size(toks),
                       F.array(F.array_join(F.slice(toks, i, n),
                                            separator)))
                .otherwise(F.array().cast("array<string>")))
        return F.concat(*outs)

    # sequence(1, 0) would DESCEND — guard the empty-array case.
    return F.when(
        F.size(toks) > 0,
        F.flatten(F.transform(F.sequence(F.lit(1), F.size(toks)), at)),
    ).otherwise(F.array().cast("array<string>"))


def shingles_py(tokens: list[str], min_shingle_size: int = 2,
                max_shingle_size: int = 2, output_unigrams: bool = True,
                separator: str = " ") -> list[str]:
    """Python oracle twin of `shingles_col` (same emission order)."""
    if not 2 <= min_shingle_size <= max_shingle_size:
        raise ValueError("need 2 <= min_shingle_size <= max_shingle_size")
    out: list[str] = []
    for i in range(len(tokens)):
        if output_unigrams:
            out.append(tokens[i])
        for n in range(min_shingle_size, max_shingle_size + 1):
            if i + n <= len(tokens):
                out.append(separator.join(tokens[i:i + n]))
    return out


def shingles_sql_duckdb(arr_expr: str, min_shingle_size: int = 2,
                        max_shingle_size: int = 2,
                        output_unigrams: bool = True,
                        separator: str = " ") -> str:
    """DuckDB fragment producing the same shingle array (range() is
    end-exclusive, so the empty-array case needs no guard beyond it).
    `arr_expr` is inlined at each use site — DuckDB lambdas cannot
    contain subqueries, so pass a plain column/CTE alias for big
    expressions."""
    if not 2 <= min_shingle_size <= max_shingle_size:
        raise ValueError("need 2 <= min_shingle_size <= max_shingle_size")
    a = f"({arr_expr})"
    parts = []
    if output_unigrams:
        parts.append(f"[{a}[i]]")
    for n in range(min_shingle_size, max_shingle_size + 1):
        parts.append(
            f"CASE WHEN i + {n - 1} <= len({a}) THEN "
            f"[array_to_string(list_slice({a}, i, i + {n - 1}), "
            f"'{separator}')] ELSE [] END")
    body = parts[0]
    for p in parts[1:]:
        body = f"list_concat({body}, {p})"
    return (f"flatten(list_transform(range(1, len({a}) + 1), "
            f"i -> {body}))")


# --------------------------------------------------------------------
# Word-delimiter stage — ES `word_delimiter_graph` token filter core
# --------------------------------------------------------------------
# Lucene WordDelimiterGraphFilter defaults (ES analysis-word-delimiter-
# graph-tokenfilter docs): split on non-alphanumerics, on lower->upper
# case transitions, on letter<->digit transitions, on the intra-word
# UPPER->Upper+lower boundary (XMLHttpRequest -> XML Http Request), and
# strip trailing English possessive 's from parts.  generate_word_parts
# and generate_number_parts are always on; `preserve_original` is the
# one option exposed.  catenate_words/catenate_numbers/catenate_all are
# NOT implemented (documented omission — they create multi-position
# graph tokens the bag-of-terms index does not need).
#
# The whole rule set is a shared (pattern, group-replacement) table so
# the Spark Column, the Python oracle and the DuckDB twin apply the
# LITERAL same regexes: no lookarounds (DuckDB is RE2), replacements
# reference capture groups only.

_WDG_RULES: list[tuple[str, str]] = [
    # possessive 's before a boundary or end ("O'Neil's" -> "O'Neil")
    (r"'[sS]($|[^A-Za-z0-9])", r"\1"),
    # ACRONYM boundary first: UPPER followed by Upper+lower
    (r"([A-Z])([A-Z][a-z])", r"\1 \2"),
    # lower -> UPPER case transition
    (r"([a-z])([A-Z])", r"\1 \2"),
    # letter <-> digit transitions
    (r"([A-Za-z])([0-9])", r"\1 \2"),
    (r"([0-9])([A-Za-z])", r"\1 \2"),
]
_WDG_SPLIT = r"[^A-Za-z0-9]+"


def word_delimiter_col(text: Column,
                       preserve_original: bool = False) -> Column:
    """array<string> of word-delimiter parts — pure JVM regexp chain.

    Parts keep their original case (ES runs `lowercase` as a separate
    downstream filter); with preserve_original=True the unmodified
    input token is prepended when it differs from its single part."""
    out = text
    for pat, rep in _WDG_RULES:
        out = F.regexp_replace(out, pat, rep.replace("\\", "$"))
    parts = F.filter(F.split(out, _WDG_SPLIT), lambda t: t != "")
    if preserve_original:
        parts = F.when(
            (F.size(parts) == 1) & (F.element_at(parts, 1) == text),
            parts,
        ).otherwise(F.concat(F.array(text), parts))
    return parts


def word_delimiter_py(text: str, preserve_original: bool = False) -> list[str]:
    """Python oracle twin of `word_delimiter_col`."""
    out = text
    for pat, rep in _WDG_RULES:
        out = re.sub(pat, rep, out)
    parts = [t for t in re.split(_WDG_SPLIT, out) if t != ""]
    if preserve_original and not (len(parts) == 1 and parts[0] == text):
        parts = [text] + parts
    return parts


def word_delimiter_sql_duckdb(text_expr: str,
                              preserve_original: bool = False) -> str:
    """DuckDB fragment producing the same parts array (RE2 regexes,
    '\\1' group references)."""
    out = text_expr
    for pat, rep in _WDG_RULES:
        sql_pat = pat.replace("'", "''")
        sql_rep = rep.replace("\\", "\\").replace("'", "''")
        out = (f"regexp_replace({out}, '{sql_pat}', "
               f"'{sql_rep}', 'g')")
    parts = (f"list_filter(regexp_split_to_array({out}, "
             f"'{_WDG_SPLIT}'), t -> t <> '')")
    if preserve_original:
        parts = (f"(SELECT CASE WHEN len(p) = 1 AND p[1] = {text_expr} "
                 f"THEN p ELSE list_concat([{text_expr}], p) END "
                 f"FROM (SELECT {parts} AS p))")
    return parts


# ------------------------------------------------------------- wordpiece
# Frozen WordPiece vocabulary (BERT's greedy longest-match-first
# tokenizer; Wu et al. 2016 / the public BERT WordpieceTokenizer): every
# [a-z0-9] single char is a valid piece in both positions, plus a fixed
# head of common English chunks valid as start AND '##'-continuation.
# Frozen-literal convention (like the kstem recall table) so the Spark
# fold, the Python mirror, and the DuckDB recursive-CTE twin share one
# source of truth.
WORDPIECE_P3 = ("the", "ing", "ion", "ent", "and", "ate", "est", "ers",
                "ter", "tio", "con", "com")
WORDPIECE_P2 = ("th", "he", "in", "er", "an", "re", "on", "at", "en",
                "es", "or", "ti", "st", "ar", "te", "ed", "nd", "to",
                "nt", "is")
WORDPIECE_P1 = tuple("abcdefghijklmnopqrstuvwxyz0123456789")
WORDPIECE_MAX_WORD = 16   # longer words -> [UNK] (BERT's
#                           max_input_chars_per_word, scaled to fixture)


def wordpiece_struct_col(word: Column) -> Column:
    """struct(pieces string, n_pieces long, has_unk boolean) — greedy
    longest-match-first WordPiece over a single lowercase token.
    Continuations render as '##piece'; a word longer than
    WORDPIECE_MAX_WORD (or with no matching piece at some position)
    collapses to '[UNK]' whole, exactly the BERT tokenizer rule.

    Implemented as ONE F.aggregate fold over sequence(1, max_word) with
    a struct(pos, out, n, fail) accumulator — the loop body appears
    once in the plan (higher-order function), unlike an unrolled
    withColumn chain whose collapsed projections grow exponentially in
    the number of steps. Pure JVM; no UDF."""
    w = word
    ln = F.length(w)
    init = F.struct(
        F.lit(0).alias("pos"), F.lit("").alias("out"),
        F.lit(0).alias("n"), (ln > WORDPIECE_MAX_WORD).alias("fail"))

    def step(acc, _):
        pos, out = acc["pos"], acc["out"]
        n, fail = acc["n"], acc["fail"]
        active = (~fail) & (pos < ln)
        s3 = w.substr(pos + 1, F.lit(3))
        s2 = w.substr(pos + 1, F.lit(2))
        s1 = w.substr(pos + 1, F.lit(1))
        m3 = (ln - pos >= 3) & s3.isin(*WORDPIECE_P3)
        m2 = (ln - pos >= 2) & s2.isin(*WORDPIECE_P2)
        m1 = s1.isin(*WORDPIECE_P1)
        any_m = m3 | m2 | m1
        piece = F.when(m3, s3).when(m2, s2).otherwise(s1)
        tok = F.when(pos == 0, piece).otherwise(
            F.concat(out, F.lit(" ##"), piece))
        return F.struct(
            F.when(~active, pos)
             .when(any_m, pos + F.when(m3, 3).when(m2, 2).otherwise(1))
             .otherwise(ln).alias("pos"),
            F.when(active & any_m, tok).otherwise(out).alias("out"),
            F.when(active & any_m, n + 1).otherwise(n).alias("n"),
            F.when(active & ~any_m, F.lit(True)).otherwise(fail)
             .alias("fail"),
        )

    st = F.aggregate(F.sequence(F.lit(1), F.lit(WORDPIECE_MAX_WORD)),
                     init, step)
    return F.struct(
        F.when(st["fail"], F.lit("[UNK]")).otherwise(st["out"])
         .alias("pieces"),
        F.when(st["fail"], F.lit(1)).otherwise(st["n"]).cast("long")
         .alias("n_pieces"),
        st["fail"].alias("has_unk"))


def wordpiece_py(word: str) -> tuple[str, int, bool]:
    """Single-process mirror of wordpiece_struct_col for oracles."""
    if len(word) > WORDPIECE_MAX_WORD:
        return "[UNK]", 1, True
    pos, out = 0, []
    while pos < len(word):
        for k, vocab in ((3, WORDPIECE_P3), (2, WORDPIECE_P2),
                         (1, WORDPIECE_P1)):
            sub = word[pos:pos + k]
            if len(sub) == k and sub in vocab:
                out.append(sub if pos == 0 else "##" + sub)
                pos += k
                break
        else:
            return "[UNK]", 1, True
    return " ".join(out), len(out), False


def _wp_in(pieces: tuple) -> str:
    return ", ".join(f"'{p}'" for p in pieces)


def wordpiece_sql_duckdb(words_sql: str) -> str:
    """DuckDB twin: WITH RECURSIVE greedy matcher over `words_sql`
    (a subquery yielding one `word` column) producing the identical
    (word, pieces, n_pieces, has_unk) rows as wordpiece_struct_col.
    Each word's state row exits the recursion when it fails or its
    position reaches the end; only final states pass the outer
    filter."""
    p3, p2, p1 = (_wp_in(WORDPIECE_P3), _wp_in(WORDPIECE_P2),
                  _wp_in(WORDPIECE_P1))
    mx = WORDPIECE_MAX_WORD
    return f"""
WITH RECURSIVE wpw AS ({words_sql}),
wp AS (
  SELECT word, 0 AS pos, '' AS out, 0 AS n,
         length(word) > {mx} AS fail
  FROM wpw
  UNION ALL
  SELECT word,
         CASE WHEN m3 THEN pos + 3 WHEN m2 THEN pos + 2
              WHEN m1 THEN pos + 1 ELSE length(word) END,
         CASE WHEN NOT (m3 OR m2 OR m1) THEN out
              WHEN pos = 0 THEN piece
              ELSE out || ' ##' || piece END,
         CASE WHEN m3 OR m2 OR m1 THEN n + 1 ELSE n END,
         NOT (m3 OR m2 OR m1) AS fail
  FROM (
    SELECT word, pos, out, n,
           length(word) - pos >= 3
             AND substr(word, pos + 1, 3) IN ({p3}) AS m3,
           length(word) - pos >= 2
             AND substr(word, pos + 1, 2) IN ({p2}) AS m2,
           substr(word, pos + 1, 1) IN ({p1}) AS m1,
           CASE WHEN length(word) - pos >= 3
                     AND substr(word, pos + 1, 3) IN ({p3})
                THEN substr(word, pos + 1, 3)
                WHEN length(word) - pos >= 2
                     AND substr(word, pos + 1, 2) IN ({p2})
                THEN substr(word, pos + 1, 2)
                ELSE substr(word, pos + 1, 1) END AS piece
    FROM wp WHERE NOT fail AND pos < length(word)
  )
)
SELECT word,
       CASE WHEN fail THEN '[UNK]' ELSE out END AS pieces,
       CAST(CASE WHEN fail THEN 1 ELSE n END AS BIGINT) AS n_pieces,
       fail AS has_unk
FROM wp
WHERE fail OR pos >= length(word)"""
