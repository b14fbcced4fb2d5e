"""Text-analysis expressions for large-scale training-data pipelines, as
Spark SQL text.

Every function returns a SQL fragment, and its arguments are SQL fragments
too (quote column names with backticks). Callers hand the text to
``selectExpr``, ``F.expr`` or ``where``: one py4j round trip per
expression, where a Column chain costs one per node and several per
Python lambda. Higher-order functions are written as ``x -> …`` text and
double literals carry a ``D`` suffix (a bare ``100.0`` is a DECIMAL in
Spark SQL). Everything is a built-in JVM expression: whole-stage codegen,
no Python in the hot path. Designed for the ``documents`` table (doc_id,
text, lang, source, n_chars) but applicable to any string column.

This module is the one definition of the text primitives (normalize,
tokens, the k-token window builder, the md5 digest); the dedup, chunking,
mixing and sampling operators and the text, pipeline and dedup queries all
build on it.

These are beyond the reference's surface (it has no string functions at all —
SURVEY.md §2.3 "absent scalar-function surface"); they're first-class here
because a 100 TB Spark corpus pipeline needs them.
"""

from __future__ import annotations

# A "BPE-ish" pre-tokenizer: letter runs, digit runs, single punctuation —
# the shape GPT-2-style byte-pair pre-splitting produces.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic so the DuckDB oracle can
# replicate the computation exactly.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une"),
    "zh": ("de", "shi", "le", "bu", "wo", "you", "zai", "ta"),
}


def _re(pattern: str) -> str:
    """A regex as a SQL string literal (Spark unescapes backslashes)."""
    return "'" + pattern.replace("\\", "\\\\") + "'"


_WS = _re(r"\s+")


def normalize(s: str) -> str:
    """Lowercase + whitespace-collapse + trim — canonical text form."""
    return f"trim(regexp_replace(lower({s}), {_WS}, ' '))"


def tokens(s: str) -> str:
    """Whitespace tokens of the normalized text (array<string>)."""
    return f"split({normalize(s)}, ' ')"


def token_count(s: str) -> str:
    """Whitespace token count (bigint)."""
    return f"CAST(size({tokens(s)}) AS BIGINT)"


def bpe_ish_token_count(s: str) -> str:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / punct)."""
    return f"CAST(size(regexp_extract_all({s}, {_re(BPE_ISH_RE)}, 0)) AS BIGINT)"


def k_windows(toks: str, k: int) -> str:
    """Every run of ``k`` consecutive tokens of the array ``toks``, space-
    joined (array<string>); empty when ``toks`` has fewer than ``k``.

    Built with ``arrays_zip`` over k shifted copies of the token array so
    every lambda touches only its own element: Spark re-evaluates a
    higher-order lambda's captured expressions per element, so the naive
    ``transform(sequence, i -> slice(toks, i, k))`` form recomputes the
    whole tokenization per window — O(n²) per document (4s for ONE
    20k-token doc). This form is O(n·k)."""
    shifted = [toks] + [
        f"slice({toks}, {i + 1}, greatest(size({toks}) - {i}, 0))" for i in range(1, k)
    ]
    zipped = f"arrays_zip({', '.join(shifted)})"  # pads short arrays w/ NULLs
    full = f"filter({zipped}, s -> s['{k - 1}'] IS NOT NULL)"
    fields = ", ".join(f"s['{i}']" for i in range(k))
    return f"transform({full}, s -> concat_ws(' ', {fields}))"


def ngrams(s: str, n: int) -> str:
    """n-token grams of the normalized text (array<string>); empty array
    for docs shorter than n tokens."""
    toks = tokens(s)
    return (
        f"CASE WHEN size({toks}) >= {n} THEN {k_windows(toks, n)} "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def type_token_ratio(s: str) -> str:
    """Distinct-token fraction (Gopher-style repetition signal): low values
    mean the document repeats itself."""
    toks = tokens(s)
    return f"size(array_distinct({toks})) / size({toks})"


def fingerprint(s: str) -> str:
    """Deterministic document fingerprint: md5 of the normalized text.

    (The rolling-hash variant is ``minhash``'s shingle hash in
    operators/dedup.py; md5-of-normalized is the whole-document fingerprint.)
    """
    return f"md5({normalize(s)})"


def char_count(s: str) -> str:
    return f"CAST(length({s}) AS BIGINT)"


def _char_ratio(s: str, pattern: str) -> str:
    """Fraction of characters matching ``pattern`` (0.0 when empty)."""
    hits = f"length({s}) - length(regexp_replace({s}, {_re(pattern)}, ''))"
    return f"CASE WHEN length({s}) > 0 THEN ({hits}) / length({s}) ELSE 0.0D END"


def punct_ratio(s: str) -> str:
    """Fraction of characters that are punctuation (0.0 when empty)."""
    return _char_ratio(s, r"[^\w\s]")


def uppercase_ratio(s: str) -> str:
    return _char_ratio(s, r"[A-Z]")


def quality_score(s: str) -> str:
    """Composite quality heuristic in [0, 1]: rewards moderate length,
    penalizes punctuation soup and ALL-CAPS. Deterministic arithmetic only
    (oracle-replicable)."""
    length_term = f"least({token_count(s)} / 100.0D, 1.0D)"
    punct_term = f"(1.0D - least({punct_ratio(s)} * 4.0D, 1.0D))"
    upper_term = f"(1.0D - least({uppercase_ratio(s)} * 4.0D, 1.0D))"
    return f"round(({length_term} + {punct_term} + {upper_term}) / 3.0D, 6)"


def lang_scores(s: str) -> dict[str, str]:
    """Per-language stopword-hit counts (the language-ID signal)."""
    toks = tokens(s)
    words = {lang: ", ".join(f"'{w}'" for w in sw) for lang, sw in LANG_STOPWORDS.items()}
    return {
        lang: f"CAST(size(filter({toks}, x -> x IN ({ws}))) AS BIGINT)"
        for lang, ws in words.items()
    }


def lang_id(s: str) -> str:
    """Pick the language with the most stopword hits; ties and zero-hit texts
    resolve to 'und' (undetermined) / lexicographically-first winner, fully
    deterministic."""
    pairs = ", ".join(
        f"struct({score} AS n, '{lang}' AS lang)"
        for lang, score in sorted(lang_scores(s).items())
    )
    # max by (n, then lexicographically-last lang loses): sort desc by n, asc by lang
    order = (
        "(a, b) -> CASE WHEN a['n'] > b['n'] THEN -1 WHEN a['n'] < b['n'] THEN 1 "
        "WHEN a['lang'] < b['lang'] THEN -1 WHEN a['lang'] > b['lang'] THEN 1 ELSE 0 END"
    )
    best = f"array_sort(array({pairs}), {order})[0]"
    return f"CASE WHEN {best}['n'] > 0 THEN {best}['lang'] ELSE 'und' END"


def md5_int(s: str) -> str:
    """First 15 hex digits of md5 as a bigint (60 bits) — the engine-neutral
    string hash shared with the DuckDB oracle (queries/dedup.py
    _duck_md5int)."""
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS algorithm):
# hash every character k-gram, then keep the minimum hash of each window of
# w consecutive k-gram hashes. Guarantees: any shared substring of length
# >= k + w - 1 contributes at least one shared fingerprint, and no match
# shorter than k is ever detected. Character-level, so it survives token
# reflows that break word-shingle dedup.
WINNOW_P = 2_147_483_647


def winnow_fingerprints(s: str, k: int = 7, w: int = 4) -> str:
    """Sorted distinct winnowing fingerprints of the normalized text
    (array<bigint>).

    WARNING — short strings only: Spark evaluates a higher-order lambda's
    argument expressions per outer element, so the nested transform here
    recomputes the gram-hash array for EVERY window position — O(n²)
    interpreted md5 per row (~1s/doc at 1k grams). For corpus work use
    ``operators/dedup.py:winnow_fingerprint_pairs``, which hashes each gram
    once."""
    norm = normalize(s)
    grams = f"transform(sequence(1, greatest(length({norm}) - {k} + 1, 1)), i -> substring({norm}, i, {k}))"
    hashes = f"transform({grams}, g -> {md5_int('g')} % {WINNOW_P})"
    mins = (
        f"transform(sequence(1, greatest(size({hashes}) - {w} + 1, 1)), "
        f"j -> array_min(slice({hashes}, j, {w})))"
    )
    return f"array_sort(array_distinct({mins}))"
