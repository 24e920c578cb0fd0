"""Tokenization — the text-processing core of the engine.

The reference pipeline (SRC/ivory/tokenize/GalagoTokenizer.java:139-183) is
TagTokenizer -> stopword filter -> Snowball stem. Two renderings here:

1. ``tokens_col`` / ``duck_tokens_list``: the **expression tokenizer** —
   pure built-in column functions (JVM-side, whole-stage codegen, zero
   Python in the hot path) AND the byte-identical DuckDB SQL rendering of
   the same logic, generated from the same regex constants. This is what
   every oracle-checked query uses, and it is the 100 TB hot path.
   Semantics (documented divergences from the reference in `fidelity.py`):
   - strip <script>/<style> blocks, <!--comments-->, <?pi?>, <tags>,
     &entities;  (reference: TagTokenizer.java:97-102,155-169,644-662)
   - lowercase, delete apostrophes (TagTokenizer.java:536-559)
   - split on whitespace/control chars and the reference split-char set
     (TagTokenizer.java:73-95) PLUS '.' (the reference instead applies
     per-token acronym rules, TagTokenizer.java:479-527 — the full port
     lives in functions/fidelity.py as a pandas UDF)
   - drop empty tokens and tokens >= 100 bytes UTF-8
     (TagTokenizer.java:439-453)

2. ``functions.fidelity.tokenize_udf``: full-fidelity pandas-UDF port with
   acronym/period rules and Porter2 stemming; unit-tested against the
   reference's documented examples; not oracle-checkable (DuckDB has no
   stemmer in this environment).

Both engines see literally the same regex strings (Java regex and RE2
agree on this subset: character classes, (?s), non-greedy repetition).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column
from pyspark.sql import functions as F

from .stopwords import STOPWORDS, sql_not_in_stopwords

# ASCII-whitespace class BODY for dual-rendered regexes (wrap in
# [...] / [^...]): Java's \s is [ \t\n\x0B\f\r] but RE2's omits \x0B
# (vertical tab) and Python re's is full-Unicode, so a bare \s (or \S)
# makes the engines disagree on VT-bearing text (r8 ADVICE on
# BPE_PATTERN; r9 review swept every other dual-rendered \s to this).
# Spelled with escapes so it embeds identically in Java regex, RE2 via
# SQL literals, and Python re.


def _class_safe(body: str) -> str:
    """Guard for char-class BODIES that get interpolated raw into [...]
    and [^...] across Java regex, RE2 AND single-quoted SQL literals
    (r9 ADVICE): a ']' would close the class early, '^'/'-' change
    meaning positionally, a quote breaks the SQL literal, '&' is the
    Java-only class-intersection operator ('[a&&b]' intersects in Java
    but is literal in RE2/Python — exactly the silent cross-engine
    split this guard exists for; r10 review), and a backslash is only
    safe when it starts an escape BOTH engines parse identically
    inside a class. Enforced at import time so a future edit cannot
    silently corrupt every derived regex in both engines."""
    import re as _re

    if _re.search(r"[\]\[^'\"&-]", body):
        raise ValueError(f"char-class body contains class-unsafe char: {body!r}")
    # every backslash must start \t \n \f \r or \xHH (lowercase hex —
    # the spelling both engines and the SQL renderings already use)
    if not _re.fullmatch(r"(?:\\t|\\n|\\f|\\r|\\x[0-9a-f]{2}|[^\\])*", body):
        raise ValueError(f"char-class body has an unsafe backslash: {body!r}")
    return body


WS_CHARS = _class_safe("\\t\\n\\x0b\\f\\r ")

# <script>/<style> contents die entirely; comments, processing
# instructions, tags and XML entities become token breaks.
TAG_NOISE_RE = (
    r"(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
    r"|<!--.*?-->|<\?.*?\?>|<[^>]*>|&[a-zA-Z0-9#]+;"
)

# Reference split chars (TagTokenizer.java:73-95): control chars <= 0x20,
# ; " & / : ! # ? $ % ( ) @ ^ * + - , = > < [ ] { } | ` ~ _
# plus '.' (expression-tokenizer simplification, see module docstring —
# pass acronyms=True for the reference's per-token period rules instead).
SPLIT_RE = r"[\x00-\x20;\"&/:!#?$%()@^*+,.=><\[\]{}|`~_-]+"

# The same split set WITHOUT '.': the acronym-rule path keeps periods
# inside tokens and applies TagTokenizer.java:479-527 per token.
SPLIT_RE_KEEP_DOT = r"[\x00-\x20;\"&/:!#?$%()@^*+,=><\[\]{}|`~_-]+"

# TagTokenizer.java:495-501: a token (after leading/trailing periods are
# stripped) is an acronym when every ODD index holds '.' — even indices
# are UNCHECKED, so 'a...b' IS an acronym. Post-strip the token ends on a
# non-period, so the shape is (any-char '.')+ any-char.
ACRONYM_RE = r"^(.\.)+.$"
_STRIP_DOTS_RE = r"^\.+|\.+$"

# ASCII-only lowercase table (TagTokenizer.java:536-559 lowercases only
# A-Z; compat_ascii_lower reproduces that byte-for-byte on non-ASCII
# corpora; the default lowercases everything — documented divergence).
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"

MAX_TOKEN_BYTES = 100


def _clean_text(col: Column) -> Column:
    # Every TAG_NOISE_RE alternative requires '<' or '&', so markup-free
    # strings can skip the expensive regex entirely (measured ~40% of
    # tokenize cost on a clean corpus); the guard is semantics-preserving
    # for any input. CASE branches evaluate lazily in both engines.
    has_markup = col.contains("<") | col.contains("&")
    cleaned = F.when(has_markup, F.regexp_replace(col, TAG_NOISE_RE, " ")).otherwise(col)
    return F.regexp_replace(cleaned, "'", "")


def _lower(col: Column, ascii_only: bool) -> Column:
    if ascii_only:
        return F.translate(col, _ASCII_UPPER, _ASCII_LOWER)
    return F.lower(col)


def _acronym_pieces(t: Column) -> Column:
    """TagTokenizer.java:479-527 for one pre-stripped token: no periods →
    token unchanged (length-1 survives); acronym → periods deleted; else
    split on '.' keeping pieces of length >= 2 ('ph.d' → ['ph'], the
    reference code's behavior — its javadoc claims 'd' survives, the
    e - s > 1 guard at :509-515 drops it)."""
    return (
        F.when(~t.contains("."), F.array(t))
        .when(t.rlike(ACRONYM_RE), F.array(F.translate(t, ".", "")))
        .otherwise(F.filter(F.split(t, r"\."), lambda p: F.length(p) >= 2))
    )


def tokens_col(
    text: Column,
    *,
    stopworded: bool = True,
    acronyms: bool = False,
    compat_ascii_lower: bool = False,
) -> Column:
    """array<string> of tokens in document order (Spark rendering).

    acronyms=True applies the reference's per-token period rules
    (TagTokenizer.java:479-527) instead of treating '.' as a split char —
    'i.b.m' indexes as 'ibm', 'umass.edu' as 'umass','edu'."""
    cleaned = _clean_text(_lower(text, compat_ascii_lower))
    if acronyms:
        raw = F.split(cleaned, SPLIT_RE_KEEP_DOT)
        stripped = F.transform(
            raw, lambda t: F.regexp_replace(t, _STRIP_DOTS_RE, "")
        )
        raw = F.flatten(F.transform(stripped, _acronym_pieces))
    else:
        raw = F.split(cleaned, SPLIT_RE)
    keep = lambda t: (t != F.lit("")) & (F.octet_length(t) < MAX_TOKEN_BYTES)  # noqa: E731
    if stopworded:
        base = keep
        keep = lambda t: base(t) & ~stopword_member(t)  # noqa: E731
    return F.filter(raw, keep)


def duck_tokens_list(
    text_sql: str,
    *,
    stopworded: bool = True,
    acronyms: bool = False,
    compat_ascii_lower: bool = False,
) -> str:
    """DuckDB SQL rendering of ``tokens_col`` (returns a LIST expression).

    Single-quote escaping: the regexes contain a double quote but no
    single quotes; apostrophe removal uses chr(39).
    """
    lowered = (
        f"translate({text_sql}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"
        if compat_ascii_lower
        else f"lower({text_sql})"
    )
    # same markup guard as _clean_text (every regex alternative needs
    # '<' or '&'); CASE keeps the regex off the clean-text fast path
    cleaned = (
        f"replace(CASE WHEN contains({lowered}, '<') OR contains({lowered}, '&') "
        f"THEN regexp_replace({lowered}, '{TAG_NOISE_RE}', ' ', 'g') "
        f"ELSE {lowered} END, chr(39), '')"
    )
    if acronyms:
        raw = f"string_split_regex({cleaned}, '{SPLIT_RE_KEEP_DOT}')"
        stripped = (
            f"list_transform({raw}, "
            f"t -> regexp_replace(t, '{_STRIP_DOTS_RE}', '', 'g'))"
        )
        lst = (
            f"flatten(list_transform({stripped}, t -> "
            "CASE WHEN NOT contains(t, '.') THEN [t] "
            f"WHEN regexp_matches(t, '{ACRONYM_RE}') THEN [replace(t, '.', '')] "
            "ELSE list_filter(string_split(t, '.'), p -> length(p) >= 2) "
            "END))"
        )
    else:
        lst = f"string_split_regex({cleaned}, '{SPLIT_RE}')"
    # DuckDB strlen() == byte length of VARCHAR (its octet_length is
    # BLOB-only); matches Spark octet_length.
    cond = f"t <> '' AND strlen(t) < {MAX_TOKEN_BYTES}"
    if stopworded:
        cond += " AND " + sql_not_in_stopwords("t")
    return f"list_filter({lst}, t -> {cond})"


# One JVM literal-seq per Spark application for the 733-word stopword
# IN-list (r17): ``t.isin(*STOPWORDS)`` creates 733 literal Columns —
# 733 Py4J round trips — EVERY time a tokenizer expression is built,
# which billed ~1-2.5 s of pure driver chatter to every tokenizing
# query's construction (measured: text_lang_id construct 2.2 s -> 0.03 s
# with the cached seq; the executed INSET plan is byte-identical).
# Keyed by applicationId so a fresh context rebuilds it; stale entries
# from stopped contexts are one dead JVM handle each, never reused.
_stop_seq_cache: dict = {}


def stopword_member(t: Column) -> Column:
    """``t IN (STOPWORDS)`` as a single Py4J call against a per-app
    cached literal seq — same expression (Catalyst's OptimizeIn compiles
    it to the INSET hash probe either way), constant construction cost."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    try:
        key = sc.applicationId
        seq = _stop_seq_cache.get(key)
        if seq is None:
            from pyspark.sql.classic.column import _to_seq

            seq = _to_seq(sc, [F.lit(s)._jc for s in STOPWORDS])
            _stop_seq_cache[key] = seq
        return Column(t._jc.isin(seq))
    except (ImportError, AttributeError) as exc:  # internal-API drift
        warnings.warn(
            f"cached stopword seq unavailable ({exc!r}); building the "
            "stopword IN list per call",
            RuntimeWarning,
            stacklevel=2,
        )
        return t.isin(*STOPWORDS)


def filter_stopwords(tokens: Column) -> Column:
    """Drop stopwords from an ALREADY-tokenized array — lets callers that
    need both token streams tokenize once and derive the kept stream
    (same INSET-compiled probe tokens_col uses)."""
    return F.filter(tokens, lambda t: ~stopword_member(t))


def _bounded_sequence(n: Column) -> Column:
    """[1..n], or an EMPTY array when n < 1. Spark's sequence(1, 0)
    yields the DESCENDING [1, 0] (step defaults to -1 when start > stop),
    which silently feeds bogus indexes downstream — slice(arr, 0, ...)
    throws, slice(arr, negative, ...) reads from the END."""
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )


def kgrams_col(tokens: Column, k: int) -> Column:
    """Word k-grams: one space-joined gram per window position, preserving
    order; docs with < k tokens yield an empty array (reference short-doc
    guard, TermKGramDocIndexer.java:142-143). Spark rendering."""
    if k == 1:
        return tokens
    return F.transform(
        _bounded_sequence((F.size(tokens) - (k - 1)).cast("int")),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )


def duck_kgrams(list_sql: str, k: int) -> str:
    """DuckDB rendering of ``kgrams_col`` over a LIST expression."""
    if k == 1:
        return list_sql
    return (
        f"list_transform(generate_series(1, greatest(len({list_sql}) - {k - 1}, 0)), "
        f"i -> array_to_string(list_slice({list_sql}, i, i + {k - 1}), ' '))"
    )


def pattern_grams(parts: list[str], k: int) -> set[str]:
    """Distinct k-grams fully inside a wildcard pattern's FIXED parts —
    the probe set of the classic k-gram wildcard scheme (reference
    CharKGramTermIndexer; a `pre*suf` pattern probes the grams of
    '$'+pre and suf+'$'; a fuzzy probe passes the one part '$'+term+'$').
    Driver-side twin of chargrams_col's padding convention, and the ONLY
    extraction site: the oracled corpus queries (plans/search.py
    wildcard_terms/duck_wildcard, fuzzy_terms/duck_fuzzy_terms) and the
    store serves (plans/index_store.py wildcard_indexed/fuzzy_indexed,
    which the REPL's :wildcard/:fuzzy call) all use it — one gram space
    by construction."""
    grams: set[str] = set()
    for part in parts:
        grams.update(part[i : i + k] for i in range(len(part) - k + 1))
    return grams


def wildcard_verify_cond(pre: str, suf: str) -> tuple[str, dict]:
    """Post-filter verify for `pre*suf` candidate terms, ONE definition
    shared by plans/search.wildcard_terms and the store serve
    plans/index_store.wildcard_indexed: a Spark SQL condition on
    ``term`` and its named parameters. startswith/endswith match ``%``
    and ``_`` literally; the length guard stops 'sp*park' matching
    'spark'. duck_wildcard renders it in DuckDB SQL (LIKE + length)."""
    return (
        "startswith(term, :pre) AND endswith(term, :suf) "
        "AND length(term) >= :min_len",
        {"pre": pre, "suf": suf, "min_len": len(pre) + len(suf)},
    )


def chargrams_col(term: Column, k: int) -> Column:
    """Char k-grams of the $-padded term (reference F9,
    CharKGramTermIndexer.java:99-108): '$term$' -> all length-k substrings.
    Spark rendering; emits an array (possibly with duplicates — callers
    dedup)."""
    padded = F.concat(F.lit("$"), term, F.lit("$"))
    return F.transform(
        _bounded_sequence((F.length(padded) - (k - 1)).cast("int")),
        lambda i: F.substring(padded, i, k),
    )


def duck_chargrams(term_sql: str, k: int) -> str:
    padded = f"('$' || {term_sql} || '$')"
    return (
        f"list_transform(generate_series(1, length({padded}) - {k - 1}), "
        f"i -> {padded}[i:i+{k - 1}])"
    )
