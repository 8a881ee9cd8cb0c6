"""Text-analysis column builders for the `documents` table.

Shared constants (token split regex, stopword lists, quality weights) are
consumed by BOTH the Spark plans and the DuckDB oracle SQL so the two
implementations cannot drift.

Everything here is JVM-side column expressions (split/filter/transform/
aggregate) — no Python UDFs in the hot path; at 100 TB these run inside
whole-stage codegen on the executors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization: lowercase, split on runs of non-letters, drop empties.
TOKEN_SPLIT_RE = "[^a-z]+"

# Tiny deterministic stopword lists for the n-gram language-ID heuristic.
# Order matters: ties resolve to the earliest language in LANG_PRIORITY.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "por", "para"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans"),
    "zh": ("de", "shi", "bu", "le", "wo", "ni", "ta", "zai", "you"),
}
LANG_PRIORITY: tuple[str, ...] = ("en", "de", "es", "fr", "zh")

# Quality-score weights: score = W_STOP*stop_ratio + W_PUNCT*punct_ratio
# + W_LEN*len_score. Components are ratios of integers (IEEE double
# division — bit-identical across engines); no rounding anywhere.
W_STOP, W_PUNCT, W_LEN = 0.3, 0.2, 0.5
LEN_NORM = 500  # len_score = min(n_chars, LEN_NORM) / LEN_NORM
PUNCT_CLASS = "[.!?,;:]"


def tokens(text_col: str = "text") -> Column:
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE),
        lambda x: x != F.lit(""),
    )


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


# BPE-ish pre-tokenizer pattern (GPT-2 style, lookahead-free so both Java
# regex and RE2 accept it): contractions, space-prefixed letter runs,
# digit runs, punctuation runs, whitespace runs.
BPE_ISH_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
)


def bpe_ish_count(text_col: str = "text") -> Column:
    """Token count under the BPE-ish pre-tokenization regex — the
    LLM-pipeline proxy for 'how many tokens will the tokenizer emit'."""
    return F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE))


def shingles(tokens_col: str, n: int = 3) -> Column:
    """Distinct n-token shingles as space-joined strings; empty array for
    docs shorter than n tokens."""
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({tokens_col}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({tokens_col}, i, {n})))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def stopword_hits(tokens_col: str, lang: str) -> Column:
    """Non-distinct count of tokens that are stopwords of `lang`."""
    stops = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter({tokens_col}, t -> t IN ({stops})))"
    )


def punct_count(text_col: str = "text") -> Column:
    return F.length(
        F.regexp_replace(F.col(text_col), f"[^{PUNCT_CLASS[1:-1]}]", "")
    )


def quality_components(text_col: str = "text") -> dict[str, Column]:
    """Per-document quality features; `score` composes them with the
    module weights. All doubles derive from integer ratios — deterministic
    across engines without rounding."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stops = ",".join(f"'{w}'" for w in STOPWORDS["en"])
    stop_hits = F.expr(
        f"size(filter(filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'),"
        f" t -> t != ''), t -> t IN ({stops})))"
    )
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, punct_count(text_col) / n_chars
    ).otherwise(F.lit(0.0))
    len_score = F.least(n_chars, F.lit(LEN_NORM)) / F.lit(LEN_NORM).cast(
        "double"
    )
    score = (
        stop_ratio * F.lit(W_STOP)
        + punct_ratio * F.lit(W_PUNCT)
        + len_score * F.lit(W_LEN)
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "len_score": len_score,
        "score": score,
    }


# --- Gopher-style quality filter rules (r03) -------------------------------
# The standard public pre-training quality heuristics (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", table A1; also used by RefinedWeb
# and Dolma): word-count bounds, mean-word-length bounds, symbol-to-word
# ratio, bullet/ellipsis line fractions, alphabetic-word fraction,
# stop-word presence. All pure integer-ratio arithmetic — bit-identical
# in any engine, no Python in the hot path.

QF_MIN_WORDS, QF_MAX_WORDS = 50, 100_000
QF_MIN_MWL, QF_MAX_MWL = 3.0, 10.0
QF_MAX_SYMBOL_RATIO = 0.1
QF_MAX_BULLET_FRAC = 0.9
QF_MAX_ELLIPSIS_FRAC = 0.3
QF_MIN_ALPHA_FRAC = 0.8
QF_MIN_STOP_HITS = 2

_SYMBOL_RE = r"#|\.\.\.|…"          # hash or ellipsis (Gopher's symbol set)
_BULLET_RE = r"^[-*•]"              # line starts with a bullet marker
# Patterns embedded in SQL string literals need their backslashes doubled:
# Spark's (non-ANSI) string parser strips unrecognized escapes, so '\s+'
# would reach the regex engine as 's+'.
_ELLIPSIS_END_RE_SQL = r"(\\.\\.\\.|…)$"   # line ends with an ellipsis
_WS_RE_SQL = r"\\s+"


def quality_flag_components(text_col: str = "text") -> dict[str, Column]:
    """Per-document quality-filter features and pass/fail flags (0/1
    ints for engine portability). ``passes`` is the conjunction of all
    rules. Whitespace words (not the letter-only token stream) per the
    published rules."""
    words = F.expr(
        f"filter(split({text_col}, '{_WS_RE_SQL}'), w -> w != '')"
    )
    lines = F.expr(f"split({text_col}, '\\n')")
    n_words = F.size(words)
    n_lines = F.size(lines)
    word_chars = F.expr(
        f"aggregate(filter(split({text_col}, '{_WS_RE_SQL}'), w -> w != ''),"
        f" 0L, (acc, w) -> acc + length(w))"
    )
    mean_word_len = F.when(
        n_words > 0, word_chars / n_words
    ).otherwise(F.lit(0.0))
    symbol_cnt = F.regexp_count(F.col(text_col), F.lit(_SYMBOL_RE))
    symbol_ratio = F.when(
        n_words > 0, symbol_cnt / n_words
    ).otherwise(F.lit(0.0))
    bullet_cnt = F.expr(
        f"size(filter(split({text_col}, '\\n'),"
        f" l -> ltrim(l) RLIKE '{_BULLET_RE}'))"
    )
    bullet_frac = F.when(
        n_lines > 0, bullet_cnt / n_lines
    ).otherwise(F.lit(0.0))
    ellipsis_cnt = F.expr(
        f"size(filter(split({text_col}, '\\n'),"
        f" l -> rtrim(l) RLIKE '{_ELLIPSIS_END_RE_SQL}'))"
    )
    ellipsis_frac = F.when(
        n_lines > 0, ellipsis_cnt / n_lines
    ).otherwise(F.lit(0.0))
    alpha_cnt = F.expr(
        f"size(filter(filter(split({text_col}, '{_WS_RE_SQL}'), w -> w != ''),"
        f" w -> w RLIKE '[A-Za-z]'))"
    )
    alpha_frac = F.when(
        n_words > 0, alpha_cnt / n_words
    ).otherwise(F.lit(0.0))
    stops = ",".join(f"'{w}'" for w in STOPWORDS["en"])
    stop_hits = F.expr(
        f"size(filter(filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'),"
        f" t -> t != ''), t -> t IN ({stops})))"
    )

    def _flag(cond: Column) -> Column:
        return F.when(cond, F.lit(1)).otherwise(F.lit(0))

    f_words = _flag(
        (n_words >= QF_MIN_WORDS) & (n_words <= QF_MAX_WORDS)
    )
    f_mwl = _flag(
        (mean_word_len >= QF_MIN_MWL) & (mean_word_len <= QF_MAX_MWL)
    )
    f_symbol = _flag(symbol_ratio <= QF_MAX_SYMBOL_RATIO)
    f_bullet = _flag(bullet_frac <= QF_MAX_BULLET_FRAC)
    f_ellipsis = _flag(ellipsis_frac <= QF_MAX_ELLIPSIS_FRAC)
    f_alpha = _flag(alpha_frac >= QF_MIN_ALPHA_FRAC)
    f_stop = _flag(stop_hits >= QF_MIN_STOP_HITS)
    passes = (
        f_words * f_mwl * f_symbol * f_bullet * f_ellipsis * f_alpha * f_stop
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "stop_hits": stop_hits,
        "f_word_count": f_words,
        "f_mean_word_len": f_mwl,
        "f_symbol_ratio": f_symbol,
        "f_bullet_lines": f_bullet,
        "f_ellipsis_lines": f_ellipsis,
        "f_alpha_words": f_alpha,
        "f_stopwords": f_stop,
        "passes": passes,
    }


def fingerprint(text_col: str = "text") -> Column:
    """Whitespace-normalized content fingerprint: md5 over the token
    stream. Same digest as the oracle's md5(array_to_string(tokens, ' '))."""
    return F.md5(F.concat_ws(" ", tokens(text_col)))


# --- SQL twins (DuckDB) ----------------------------------------------------


def sql_tokens(text_col: str = "text") -> str:
    return (
        f"list_filter(string_split_regex(lower({text_col}),"
        f" '{TOKEN_SPLIT_RE}'), x -> x != '')"
    )


def sql_stopword_hits(tokens_sql: str, lang: str) -> str:
    stops = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({tokens_sql}, t -> t IN ({stops})))"


# --- PII detection / redaction (r03) ---------------------------------------
# Patterns live in the Java-regex ∩ RE2 common subset (no backreferences,
# no lookaround) so Spark and any RE2-based oracle engine (DuckDB) find
# the SAME matches. Order matters for redaction: email before phone so
# digits inside an already-redacted span can't double-match.

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # phone: international-ish, 8+ digits with separators; anchored on
    # digit boundaries so it can't swallow IPv4s (dots excluded)
    "phone": r"\+?\d[\d ()-]{6,}\d\b",
}

_REDACTION_ORDER = ("email", "ssn", "ipv4", "phone")


def pii_counts(text_col: str = "text") -> dict[str, Column]:
    """Per-document match count per PII class — JVM regexp_count, no
    Python in the hot path."""
    return {
        name: F.regexp_count(F.col(text_col), F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text_col: str = "text") -> Column:
    """Replace every PII match with a typed placeholder ([EMAIL] etc.) —
    chained JVM regexp_replace in an order where earlier redactions
    cannot leave partial matches for later classes."""
    col = F.col(text_col)
    for name in _REDACTION_ORDER:
        col = F.regexp_replace(
            col, PII_PATTERNS[name], f"[{name.upper()}]"
        )
    return col


# Deterministic PII-bearing rows unioned into the scan so the regex
# behavior itself is oracle-verified cross-engine (the synthetic corpus
# contains no digits at all — real pipelines feed this operator raw
# crawl text). Literal SQL VALUES, byte-identical in both engines.
PII_FIXTURE_ROWS = [
    (9000001, "contact me at alice.smith+work@example-mail.com today",
     "synthetic_pii"),
    (9000002, "server at 192.168.0.1 and backup at 10.0.255.254 ping",
     "synthetic_pii"),
    (9000003, "call +1 (415) 555-0199 or 020 7946 0958 now", "synthetic_pii"),
    (9000004, "ssn 123-45-6789 leaked with bob@corp.io twice bob@corp.io",
     "synthetic_pii"),
    (9000005, "clean document with no sensitive content at all",
     "synthetic_pii"),
]
