"""Text-analysis function surface (SURVEY.md §2.8 N5) — all built-in
column expressions (JVM-side, codegen'd); no Python in the hot path.

Hashing note: every content hash here is md5 — the one hash function
whose output is bit-identical across Spark, DuckDB, and Snowflake, which
makes MinHash/fingerprint results oracle-checkable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny per-language stopword table for the n-gram/stopword language-ID
# heuristic. Real pipelines plug in fastText etc. via a Pandas UDF; the
# heuristic keeps the operator dependency-free and deterministic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "est"],
}
LANG_FALLBACK = "zh"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def words(col: Column | str) -> Column:
    """Whitespace tokenization (single-space convention of the fixtures)."""
    return F.split(_c(col), " ")


def token_count(col: Column | str) -> Column:
    """Whitespace token count without materializing the array."""
    c = _c(col)
    return F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit(""))) + 1


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-style pre-tokenizer count: letter runs, digit runs, single
    punctuation marks (the GPT-2 pre-tokenizer shape, minus unicode
    categories)."""
    return F.regexp_count(_c(col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles, built from n shifted array slices zipped
    together.

    Why slices+zip_with and not ``transform(sequence(...), i ->
    element_at(ws, i+j)...)``: expressions referenced inside a
    higher-order-function lambda are re-evaluated PER ELEMENT (no common
    subexpression elimination crosses the lambda boundary), so the
    element_at form re-runs the full ``split`` ~3× per shingle — measured
    ~20× slower on the documents fixture. Here ``split`` is evaluated
    O(n) times per row and the zip lambdas touch only bound variables.
    Short documents yield an empty array (Spark's ``sequence(1, 0)``
    would descend!)."""
    ws = words(col)
    k = F.size(ws)
    length = k - (n - 1)
    zipped = F.slice(ws, 1, length)
    for j in range(1, n):
        zipped = F.zip_with(
            zipped, F.slice(ws, j + 1, length), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(k >= n, F.array_distinct(zipped)).otherwise(
        F.array().cast("array<string>")
    )


def stopword_hits(col: Column | str, stopwords: list[str]) -> Column:
    """Occurrences of any of ``stopwords`` among the tokens."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(words(col), lambda w: F.array_contains(sw, w)))


def language_scores(col: Column | str) -> dict[str, Column]:
    return {lang: stopword_hits(col, sws) for lang, sws in STOPWORDS.items()}


def _lang_argmax(s: dict[str, Column]) -> Column:
    """Tie-ordered argmax cascade over per-language score columns."""
    ordered = ["en", "es", "de", "fr"]
    expr = F.lit(LANG_FALLBACK)
    # build the cascade back-to-front so earlier langs win ties
    for lang in reversed(ordered):
        others = [o for o in ordered if o != lang]
        cond = s[lang] > 0
        for o in others:
            cond = cond & (s[lang] >= s[o])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def language_id(col: Column | str) -> Column:
    """Deterministic stopword-score argmax with a fixed evaluation order
    (en > es > de > fr > fallback on ties), zero hits → fallback.

    Single-Column form: the cascade references every score ~7 times and a
    Column tree has no sharing, so the token filter is evaluated ~28x per
    row. Fine for occasional use; hot paths should use
    ``with_language_id`` (two-projection form, each score computed once).
    """
    return _lang_argmax(language_scores(col))


def with_language_id(df, col: str, out: str = "predicted_lang"):
    """Two-projection language ID: score columns materialize in their own
    SELECT, the argmax cascade references them by attribute. Spark's
    CollapseProject keeps multiply-referenced non-cheap aliases
    un-inlined, so each stopword filter runs once per row instead of once
    per cascade reference (~7x less expression work than language_id)."""
    scored = df.select(
        "*", *[stopword_hits(col, sws).alias(f"__s_{l}") for l, sws in STOPWORDS.items()]
    )
    s = {l: F.col(f"__s_{l}") for l in STOPWORDS}
    return scored.withColumn(out, _lang_argmax(s)).drop(
        *[f"__s_{l}" for l in STOPWORDS]
    )


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def avg_token_len(col: Column | str) -> Column:
    c = _c(col)
    return (
        F.length(F.replace(c, F.lit(" "), F.lit(""))).cast("double")
        / token_count(c).cast("double")
    )


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sws = stopwords or STOPWORDS["en"]
    return stopword_hits(col, sws).cast("double") / token_count(col).cast("double")


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercased
    content — stable across engines and whitespace variants."""
    return F.md5(F.lower(F.regexp_replace(_c(col), r"\s+", " ")))


# ---------------------------------------------------------------------------
# Unicode word lane (round 8 — VERDICT r07 #1; DEFAULT since round 9 —
# VERDICT r08 #2). ``unicode_words`` / ``UNICODE_WORD`` is the repo's
# default word tokenizer: the corpus-curation family (q210/q211 splits +
# budgets, q212 repetition, q214/q223/q225 contamination, q221/q227
# DSIR, q190/q219 KL drift, q197 cross-source, q160 surprisal, q172 LM,
# q173 PMI, q174 Zipf, q202 mixing, q149/q201 set-sim shingles
# (operators/setsim.py), q180 phrase search (operators/phrase.py),
# q203/q218/q224 sharding tokens (operators/sharding.py), q228 CI,
# q230 representatives and q233 corpus grid) all tokenize with the \p{L}\p{M} letter-run class in both
# engines. On the all-ASCII driver fixture the two classes produce
# IDENTICAL tokens over lowered text, so the migration was
# hash-neutral (tests/test_unicode_migration.py proves token-level
# equality corpus-wide and the divergence on planted non-Latin rows).
#
# ASCII-convention SURVIVORS, each with its reason:
# - the BPE chain (operators/bpe.py; q145/q146/q209/q226): the merge
#   algebra extracts marker-delimited `[a-z]+` symbol runs whose
#   non-overlap guarantee is proven for that exact class; widening the
#   class is a semantic change to the trained vocab, not a drop-in —
#   multilingual BPE belongs to a byte-level pre-tokenizer, not to a
#   wider regex.
# - q220: measures the ASCII-vs-Unicode divergence BY DESIGN (its
#   ascii_capturable column is defined as `^[a-z]+$`).
# - queries_surface_ext's `[aeiou][a-z]+`: a regexp-surface demo lane —
#   the pattern itself is the subject under test, not a tokenizer.
# - ``bpe_ish_token_count`` below: a GPT-2-shaped pre-tokenizer COUNT
#   heuristic, documented as ASCII-approximate.
# ---------------------------------------------------------------------------

#: Unicode word class: letter runs including combining marks. Verified
#: token-identical between Java regex (Spark) and RE2 (DuckDB) on
#: Cyrillic / CJK / accented-Latin / mixed-script probes (q220's oracle is
#: the standing parity check). No lookarounds, no script names — Java
#: spells scripts \p{IsCyrillic} while RE2 spells them \p{Cyrillic}, so
#: script CLASSES are out of the shared subset; script bucketing is done
#: by leading-codepoint ranges instead (``script_of``).
UNICODE_WORD = r"[\p{L}\p{M}]+"

#: The NORMALIZED-token class (letters + digits) used by the
#: decontamination lanes (q223/q225): casefold + strip punctuation but
#: keep digits, so "GPT-4 eval" and "gpt4 eval!" collide. Same shared
#: Java/RE2 subset as UNICODE_WORD.
UNICODE_WORD_NUM = r"[\p{L}\p{M}0-9]+"


def unicode_words(col: Column | str) -> Column:
    """Unicode letter-run tokenization over lowered text — the
    multilingual counterpart of the ASCII ``[a-z]+`` convention (see the
    ledger above). ``lower`` is engine-parity-safe on Cyrillic/accented
    Latin (probed); locale-sensitive edges (Turkish dotted I, final
    sigma) are outside the contract and belong to a real ICU pass."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(UNICODE_WORD), F.lit(0))


def script_of(token: Column | str) -> Column:
    """Coarse script bucket from the token's LEADING codepoint (Spark
    ``ascii`` ≡ DuckDB ``unicode`` — probed identical): latin < 128,
    greek U+0370-03FF (carved out of latin_ext — VERDICT r10 #5),
    latin_ext < 0x0400, cyrillic < 0x0500, arabic U+0600-06FF,
    devanagari U+0900-097F, hangul U+1100-11FF jamo + U+AC00-D7AF
    syllables (carved out of the >= 0x2E80 cjk block), cjk >= 0x2E80.
    First-char heuristic by design: `\\p{L}+` runs are
    script-homogeneous except for deliberately mixed-script tokens,
    and the O(1) probe avoids a per-character explode; the thorough
    form is a max-codepoint scan."""
    cp = F.ascii(_c(token))
    return (
        F.when(cp < 128, F.lit("latin"))
        .when((cp >= 0x0370) & (cp <= 0x03FF), F.lit("greek"))
        .when(cp < 0x0400, F.lit("latin_ext"))
        .when(cp < 0x0500, F.lit("cyrillic"))
        .when((cp >= 0x0600) & (cp <= 0x06FF), F.lit("arabic"))
        .when((cp >= 0x0900) & (cp <= 0x097F), F.lit("devanagari"))
        .when((cp >= 0x1100) & (cp <= 0x11FF), F.lit("hangul"))
        .when((cp >= 0xAC00) & (cp <= 0xD7AF), F.lit("hangul"))
        .when(cp >= 0x2E80, F.lit("cjk"))
        .otherwise(F.lit("other"))
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (round 3 — the scrubbing pass every public-crawl
# training pipeline runs before anything else touches the text). Patterns are
# deliberately restricted to the regex subset Java (Spark) and RE2 (DuckDB)
# evaluate identically — character classes, bounded quantifiers, \b — so the
# operator stays oracle-checkable; no lookarounds.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{3}[- ]\d{3}[- ]\d{4}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind match counts (expression-level; JVM regex engine)."""
    return {
        kind: F.size(F.regexp_extract_all(_c(col), F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def scrub_pii(col: Column | str) -> Column:
    """Redact every PII match with a typed placeholder (``<EMAIL>`` etc.).
    Replacement order is the fixed dict order on both engines; the
    patterns are format-disjoint so order cannot change the result."""
    out = _c(col)
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out
