"""Text analysis for training-data curation: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All columnar (whole-stage codegen) — no Python in the hot path. Every
function is mirrored 1:1 by a DuckDB oracle in driver_queries (md5-only
hashing; single-pass double arithmetic so values are bit-identical).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "fr": ["le", "la", "de", "et", "un", "les"],
    "de": ["der", "die", "das", "und", "zu", "ein"],
}

# deterministic precedence for argmax ties
LANG_ORDER = ["en", "es", "fr", "de"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


# PII scrubbing for training corpora: ordered (pattern, replacement)
# rules, applied as chained regexp_replace — columnar, zero Python.
# Patterns are RE2-compatible so the DuckDB oracle replays them
# verbatim (no lookbehind/lookahead).
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("longnum", r"\b\d{9,}\b", "<NUM>"),  # account/phone-ish digit runs
)


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4 addresses, and long digit runs with typed
    placeholders. Rule order matters (an email is redacted before its
    digits could match longnum) and is part of the contract."""
    out = text
    for _, pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-rule match counts (for corpus auditing): {name: long col}."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long")
        for name, pat, _ in PII_RULES
    }


# C4-style line-level quality rules (Raffel et al. 2020 §2.2, public):
# terminal-punctuation lines, short-line fraction, lorem-ipsum and
# curly-brace markers. All columnar (split + filter + size).
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_SHORT_LINE_TOKENS = 3   # a line under this many tokens is short
C4_MIN_PUNCT_FRAC = 0.5    # keep: share of lines ending in terminal punct
C4_MAX_SHORT_FRAC = 0.5    # keep: share of short lines
C4_MIN_LINES = 1


def c4_line_stats(text: Column) -> dict[str, Column]:
    """Per-doc line-quality signals: {n_lines, frac_lines_punct,
    frac_short_lines, has_lorem_ipsum, has_brace}. Fractions are
    single-pass double divisions (oracle-bit-identical); empty lines
    (post-trim) are excluded from the denominators."""
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n = F.size(lines)
    punct = F.size(
        F.filter(
            lines,
            lambda x: F.substring(x, -1, 1).isin(*C4_TERMINAL_PUNCT),
        )
    )
    short = F.size(
        F.filter(
            lines,
            lambda x: F.size(F.split(x, r"\s+")) < C4_SHORT_LINE_TOKENS,
        )
    )
    denom = F.when(n > 0, n.cast("double"))
    return {
        "n_lines": n.cast("long"),
        "frac_lines_punct": punct.cast("double") / denom,
        "frac_short_lines": short.cast("double") / denom,
        "has_lorem_ipsum": F.lower(text).contains("lorem ipsum"),
        "has_brace": text.contains("{"),
    }


def c4_keep(text: Column) -> Column:
    """C4-flavored doc-level keep decision over c4_line_stats."""
    s = c4_line_stats(text)
    return (
        (s["n_lines"] >= C4_MIN_LINES)
        & (s["frac_lines_punct"] >= C4_MIN_PUNCT_FRAC)
        & (s["frac_short_lines"] <= C4_MAX_SHORT_FRAC)
        & ~s["has_lorem_ipsum"]
        & ~s["has_brace"]
    )


URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def extract_domains(text: Column) -> Column:
    """Domains of every http(s) URL in the text (group 1 of each
    match) — the input to per-domain corpus stats / blocklists."""
    return F.regexp_extract_all(text, F.lit(URL_DOMAIN_RE), 1)


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: count of BPE-flavored segments
    (letter runs, digit runs, single punctuation) — a deterministic
    stand-in for a real tokenizer's token count."""
    seg = F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(seg).cast("long")


def stopword_count(text: Column, lang: str) -> Column:
    words = F.transform(tokens(F.lower(text)), lambda x: x)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w))).cast("long")


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID; deterministic precedence on ties;
    'unk' when no stopword hits at all."""
    scores = {lang: stopword_count(text, lang) for lang in LANG_ORDER}
    # argmax with fixed precedence: first lang whose score >= all others
    pred = F.lit("unk")
    for lang in reversed(LANG_ORDER):
        cond = scores[lang] > F.lit(0)
        for other in LANG_ORDER:
            if other == lang:
                continue
            if LANG_ORDER.index(other) < LANG_ORDER.index(lang):
                cond = cond & (scores[lang] > scores[other])  # earlier lang wins ties
            else:
                cond = cond & (scores[lang] >= scores[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def alpha_ratio(text: Column) -> Column:
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    return alpha.cast("double") / F.length(text).cast("double")


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length sweet-spot +
    alphabetic density + stopword density (fluency proxy)."""
    n_tok = token_count(text).cast("double")
    sw = stopword_count(text, "en").cast("double")
    length_part = F.least(F.lit(1.0), n_tok / F.lit(50.0))
    fluency_part = F.least(F.lit(1.0), (sw / F.greatest(n_tok, F.lit(1.0))) * F.lit(5.0))
    return F.round(
        F.lit(0.4) * length_part + F.lit(0.3) * alpha_ratio(text) + F.lit(0.3) * fluency_part,
        4,
    )


def dup_ngram_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of bigram POSITIONS that
    repeat an earlier bigram ((total - distinct) / total). High values
    flag machine-generated / boilerplate-heavy documents. Columnar:
    zip_with over shifted token slices (no per-position indexing), no
    shuffle. Docs with < 2 tokens score 0.0.
    """
    toks = tokens(text)
    cnt = F.size(toks) - 1
    bigrams = F.zip_with(
        F.slice(toks, 1, cnt), F.slice(toks, 2, cnt), lambda x, y: F.concat_ws(" ", x, y)
    )
    distinct = F.size(F.array_distinct(bigrams))
    frac = (cnt - distinct).cast("double") / cnt.cast("double")
    return F.when(F.size(toks) >= 2, F.round(frac, 4)).otherwise(F.lit(0.0))


def top_token_stats(docs):
    """(doc_id, top_token_frac): share of the document covered by its
    single most frequent token (Gopher top-1 coverage filter). Explode +
    two partial-aggregating groupBys on doc_id — shuffle key is the doc
    id, token fan-out collapses map-side. Token-less docs score 0.0.
    """
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    per_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.max("c").alias("top"), F.sum("c").alias("total")
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.round(F.col("top").cast("double") / F.col("total").cast("double"), 4),
            F.lit(0.0),
        ).alias("top_token_frac"),
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace-collapsed."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint(text: Column) -> Column:
    """Content fingerprint over normalized text (md5 — bit-identical
    across engines; exact-dedup key)."""
    return F.md5(normalize_text(text))


# Unicode/control cleanup for scraped corpora: ordered rules, chained
# regexp_replace (the PII_RULES pattern). \x{...} escapes parse
# identically in Java regex (Spark) and RE2 (DuckDB), so the oracle
# replays the rules verbatim.
NORMALIZE_RULES: tuple[tuple[str, str, str], ...] = (
    ("controls", r"[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]", ""),
    ("zero_width", r"[\x{200B}-\x{200D}\x{FEFF}]", ""),
    ("nbsp_family", r"[\x{00A0}\x{2007}\x{202F}]", " "),
    ("space_runs", r"[ \t]+", " "),
)


def normalize_controls(text: Column) -> Column:
    """Strip control characters and zero-width marks, map NBSP-family
    spaces to plain spaces, collapse space/tab runs — the standard
    pre-tokenization cleanup for scraped text. Rule order is part of
    the contract (NBSP must become a plain space BEFORE runs collapse)."""
    out = text
    for _, pat, repl in NORMALIZE_RULES:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def gopher_signals(docs):
    """(doc_id, n_tokens, alpha_ratio, dup_bigram_frac, top_token_frac)
    — the Gopher-style (Rae et al. 2021, public) repetition/quality
    signal set, columnar except the top-token pass (explode + two
    partial-agg groupBys keyed on doc_id)."""
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
        dup_ngram_fraction(F.col("text")).alias("dup_bigram_frac"),
    )
    return base.join(top_token_stats(docs), "doc_id")


# Gopher keep thresholds (Rae et al. 2021) other than the per-corpus
# min_tokens; they exercise both branches on the test data.
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_ALPHA = 0.55
GOPHER_MAX_DUP_BIGRAM = 0.2
GOPHER_MAX_TOP_TOKEN = 0.2


def gopher_keep(docs, min_tokens: int = 20):
    """Composite Gopher-flavored keep decision over gopher_signals —
    returns the signals plus `keep`. ``min_tokens`` is the knob a
    corpus curator tunes; the other thresholds are GOPHER_* above."""
    s = gopher_signals(docs)
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
        & (F.col("alpha_ratio") >= GOPHER_MIN_ALPHA)
        & (F.col("dup_bigram_frac") <= GOPHER_MAX_DUP_BIGRAM)
        & (F.col("top_token_frac") <= GOPHER_MAX_TOP_TOKEN)
    )
    return s.withColumn("keep", keep)


def domain_blocklist_filter(docs, blocklist: list[str]):
    """Drop documents containing a URL whose domain is on the blocklist
    (spam/SEO/adult-list filtering). The blocklist is tiny -> broadcast;
    the corpus side explodes extracted domains and anti-joins on the
    (doc_id) hits, so document payloads never shuffle — ids only."""
    spark = docs.sparkSession
    bl = spark.createDataFrame([(d,) for d in blocklist], "domain string")
    doms = docs.select(
        "doc_id", F.explode(extract_domains(F.col("text"))).alias("domain")
    )
    bad = doms.join(F.broadcast(bl), "domain", "left_semi").select("doc_id").distinct()
    return docs.join(bad, "doc_id", "left_anti")
