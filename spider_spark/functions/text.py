"""Text-analysis columns for training-data pipelines.

All builders are pure JVM column expressions (split/regexp/md5/array
ops) so they vectorize inside whole-stage codegen AND have an exact
ANSI-SQL twin that DuckDB can run — the driver's correctness gate
compares both (``__spark_entry__.oracle_sql``). Where a formula uses
floats the queries round, so cross-engine value-hashes match.

Operators: tokenization, token counts, language ID (stopword-hit
heuristic), quality scoring (length/punct/stopword ratios), document
fingerprinting (normalized-text md5 + shingle rolling fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens (empty strings filtered)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: word-pieces of <=4 chars + digits +
    punctuation marks counted separately (a BPE-like regex heuristic —
    counts matches of the piece pattern, not whitespace words)."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"([a-z]{1,4}|[0-9]|[^a-z0-9\s])"), 1
    )
    return F.size(pieces)


#: small deterministic stopword sets per language (public common words)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "with", "for", "on", "this", "that", "are"],
    "de": ["der", "die", "das", "und", "mit", "für", "von", "ist", "im", "ein", "eine", "zu"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans", "pour", "au"],
    "it": ["il", "la", "di", "e", "un", "una", "per", "con", "del", "che", "in", "è"],
    "nl": ["de", "het", "een", "en", "van", "met", "voor", "op", "is", "aan", "bij", "te"],
}

LANG_ORDER = ["en", "de", "fr", "it", "nl"]


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (with multiplicity)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def lang_id(text: Column) -> Column:
    """Argmax of stopword hits, ties broken by LANG_ORDER; 'und'
    (undetermined) when no language scores a hit."""
    hits = {lg: stopword_hits(text, lg) for lg in LANG_ORDER}
    best = F.greatest(*hits.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lg in LANG_ORDER:
        expr = expr.when(hits[lg] == best, F.lit(lg))
    return expr


def punct_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"([^\w\s])"), 1))


def quality_score(text: Column) -> Column:
    """Heuristic in [0,1]: rewards moderate length, real words, low
    punctuation density — the usual pretraining-corpus gate features.

    score = 0.4*min(1, n_tokens/100) + 0.4*min(1, 8*stopword_ratio)
            + 0.2*(1 - min(1, 4*punct_ratio))
    """
    n_tok = token_count(text).cast("double")
    n_char = F.length(text).cast("double")
    sw = stopword_hits(text, "en").cast("double")
    p = punct_count(text).cast("double")
    sw_ratio = F.when(n_tok > 0, sw / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_char > 0, p / n_char).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.4) * F.least(F.lit(1.0), F.lit(8.0) * sw_ratio)
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.lit(1.0), F.lit(4.0) * punct_ratio))
    )
    return F.round(score, 4)


def normalized_text(text: Column) -> Column:
    """Dedup normal form: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def doc_fingerprint(text: Column) -> Column:
    """md5 of the normalized text — exact-dup key."""
    return F.md5(normalized_text(text))


def word_shingles_from(toks: Column, n: int = 3) -> Column:
    """n-word shingles from an ALREADY-MATERIALIZED token array column.

    ``toks`` must be a plain column attribute, not an expression: the
    transform lambda re-evaluates its argument subtree per element, so
    passing ``tokens(text)`` directly recomputes the regex split per
    shingle (O(tokens²) regex work per row — observed 60x slowdown in
    the LSH bench). Callers materialize tokens with one ``select`` step
    first; CollapseProject keeps non-cheap aliases unshared.

    A filter on a column derived from the shingles (a MinHash value, the
    shingle count) undoes that: predicate pushdown moves it below the
    projections and substitutes the aliases, so the filter's own copy of
    this lambda slices ``tokens(text)`` again per shingle. Filter on the
    token count instead (``size(tokens) >= n`` keeps exactly the rows
    with shingles), as ``textdedup.minhash_lsh_pairs`` does.
    """
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition & quality signals (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", Appendix A — public filter recipe).
# All pure JVM HOF expressions: no Python in the hot path, so the
# filters run inside whole-stage codegen over 100 TB of documents.
# The *_from variants take ALREADY-MATERIALIZED array columns — HOF
# lambdas re-evaluate argument subtrees per element, so callers must
# stage tokens/lines/grams as real projection columns first (see
# word_shingles_from above for the same contract).
# ---------------------------------------------------------------------------


def doc_lines(text: Column) -> Column:
    """Trimmed, non-empty lines of the document."""
    return F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def dup_line_fraction_from(lines: Column) -> Column:
    """Fraction of lines that repeat an earlier line (Gopher: drop docs
    with duplicate-line fraction > 0.30)."""
    n = F.size(lines).cast("double")
    return F.round(
        F.when(n > 0, (n - F.size(F.array_distinct(lines))) / n).otherwise(0.0), 4
    )


def bullet_line_fraction_from(lines: Column) -> Column:
    """Fraction of lines starting with a bullet mark (Gopher: >90%
    bullet lines = drop)."""
    n = F.size(lines).cast("double")
    bullets = F.filter(
        lines,
        lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
    )
    return F.round(F.when(n > 0, F.size(bullets) / n).otherwise(0.0), 4)


def ellipsis_line_fraction_from(lines: Column) -> Column:
    """Fraction of lines ending with an ellipsis (Gopher: >30% = drop)."""
    n = F.size(lines).cast("double")
    ell = F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    return F.round(F.when(n > 0, F.size(ell) / n).otherwise(0.0), 4)


def mean_word_length_from(toks: Column) -> Column:
    """Mean token length in characters (Gopher keeps 3..10)."""
    n = F.size(toks).cast("double")
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    return F.round(F.when(n > 0, total / n).otherwise(0.0), 4)


def symbol_word_ratio(text: Column, toks: Column) -> Column:
    """(# + ellipsis occurrences) / word count (Gopher: > 0.1 = drop)."""
    n = F.size(toks).cast("double")
    syms = F.size(
        F.regexp_extract_all(text, F.lit(r"(#|\.\.\.|…)"), 1)
    ).cast("double")
    return F.round(F.when(n > 0, syms / n).otherwise(0.0), 4)


def top_ngram_fraction_from(toks: Column, grams: Column, n: int) -> Column:
    """Token fraction covered by the single most frequent n-gram.

    Documented divergence from Gopher's character fraction: we count
    ``n * max_count / n_tokens`` (token fraction) — same signal, no
    per-character bookkeeping. ``grams`` must be a materialized column
    of n-grams over ``toks`` (word_shingles_from(toks, n)); the
    count-per-distinct-gram transform references ``grams`` once per
    distinct gram, which is why it must not be an unmaterialized
    expression."""
    ntok = F.size(toks).cast("double")
    maxc = top_ngram_count_from(grams).cast("double")
    return F.round(
        F.when((ntok > 0) & (F.size(grams) > 0), F.lit(float(n)) * maxc / ntok)
        .otherwise(0.0),
        4,
    )


def top_ngram_count_from(grams: Column) -> Column:
    """Occurrences of the single most frequent n-gram WITHIN the doc,
    as an integer (hash-stable by construction); 0 for gram-less docs.
    Same count-per-distinct-gram shape as
    :func:`top_ngram_fraction_from` (see its materialization caveat);
    row-local JVM HOFs, no shuffle."""
    counts = F.transform(
        F.array_distinct(grams),
        lambda g: F.size(F.filter(grams, lambda x: x == g)),
    )
    return (
        F.when(F.size(grams) > 0, F.array_max(counts)).otherwise(F.lit(0))
    ).cast("int")


def dup_ngram_occurrences_from(grams: Column) -> Column:
    """Count of n-gram occurrences beyond each first within the doc —
    the Gopher 'duplicate n-grams' family (Rae et al. 2021 App. A,
    n = 5..10) at occurrence granularity (documented divergence from
    the paper's character fraction: same signal, all-integer, so the
    oracle hash can't wobble). Identity: size(grams) −
    size(distinct(grams)). Row-local, no shuffle."""
    return (F.size(grams) - F.size(F.array_distinct(grams))).cast("int")


def gopher_pass(
    n_tokens: Column,
    mean_wl: Column,
    sym_ratio: Column,
    dup_line: Column,
    bullet_frac: Column,
    ellipsis_frac: Column,
    top2_frac: Column,
) -> Column:
    """The Gopher keep-decision over the (already-rounded) signals.

    Thresholds from Rae et al. 2021 Appendix A (word count bounds
    relaxed to this corpus's 10..100k): 3 <= mean word length <= 10,
    symbol-to-word <= 0.1, duplicate-line <= 0.30, bullet lines <= 0.90,
    ellipsis lines <= 0.30, top-2-gram fraction <= 0.20. Decisions are
    made on ROUNDED signals so float ULP noise can't flip a row between
    engines (DuckDB oracle parity)."""
    return (
        (n_tokens >= 10)
        & (n_tokens <= 100_000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (sym_ratio <= 0.1)
        & (dup_line <= 0.30)
        & (bullet_frac <= 0.90)
        & (ellipsis_frac <= 0.30)
        & (top2_frac <= 0.20)
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (the C4-style scrub pass a training-data
# pipeline runs before publishing a corpus). Patterns are restricted to
# the Java-regex ∩ RE2 common subset (no lookaround, no backrefs) so
# the DuckDB oracle matches bit-for-bit; all replacement runs JVM-side
# regexp_replace inside whole-stage codegen — no Python at 100 TB.
# The phone pattern requires the international "+CC" prefix so it can
# never overlap the IPv4 pattern (and keeps false positives on prices /
# ids near zero, the same precision>recall choice C4 makes).
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,3}[ -]\d{2,4}[ -]\d{3,4}[ -]\d{2,4}"


def pii_email_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), 0))


def pii_ipv4_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(PII_IPV4_RE), 0))


def pii_phone_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), 0))


def redact_pii(text: Column) -> Column:
    """Replace emails / international phones / IPv4 literals with typed
    placeholder tags (leftmost non-overlapping, same in Java and RE2).
    Email runs first (an email never contains a redaction tag), phone
    before IPv4 is irrelevant by construction (disjoint patterns)."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")
