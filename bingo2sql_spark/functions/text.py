"""Text-analysis functions for large-scale training-data pipelines.

All JVM-side Column expressions (no Python UDFs): tokenization via
split, hashing via md5/xxhash64, ratios via higher-order array
functions — these stay inside whole-stage codegen and scale linearly.

Cross-engine determinism: every function here is chosen so the exact
same value is computable in ANSI/DuckDB SQL (md5, ascii, split,
list_filter) — the driver's oracle gate depends on it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny in-expression stopword list (quality scoring)
STOPWORDS = ["the", "a", "of", "and", "to", "in"]

#: marker words per language for the n-gram-free heuristic language ID.
#: (The sandbox documents are synthetic; the operator's value is the
#: Spark shape: per-language overlap scores + deterministic argmax.)
LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "das"],
    "fr": ["le", "la", "et"],
    "zh": ["de", "le", "shi"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the BPE-ish regex variant is
    token_count_bpe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish sub-word proxy: count of letter-runs + digit-runs +
    punctuation marks (a cheap, deterministic stand-in for a real
    tokenizer's piece count)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces)


def stopword_ratio(text: Column | str) -> Column:
    t = tokens(text)
    sw = F.filter(t, lambda x: F.lower(x).isin(STOPWORDS))
    return F.round(F.size(sw).cast("double") / F.size(t), 4)


def avg_token_len(text: Column | str) -> Column:
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.round(total.cast("double") / F.size(t), 4)


def quality_score(text: Column | str) -> Column:
    """Composite doc-quality heuristic in [0,1]: penalize very short
    docs, extreme stopword ratios, and very long average tokens."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    sw = stopword_ratio(c)
    atl = avg_token_len(c)
    len_ok = F.when(n >= 20, F.lit(1.0)).otherwise(n.cast("double") / 20.0)
    sw_ok = F.when(sw.between(0.01, 0.5), F.lit(1.0)).otherwise(F.lit(0.5))
    atl_ok = F.when(atl.between(2.0, 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_ok * sw_ok * atl_ok, 4)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-word hit counts."""
    t = tokens(text)

    def mk(words: list[str]):
        return lambda x: F.lower(x).isin(words)

    return {lang: F.size(F.filter(t, mk(words))) for lang, words in LANG_MARKERS.items()}


def lang_id(text: Column | str) -> Column:
    """argmax over lang_scores with deterministic lexicographic
    tie-break (greatest-score-first, then language code order)."""
    scores = lang_scores(text)
    # build struct(score, neg-ordered lang) and take array_max
    entries = [
        F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        for lang, s in sorted(scores.items(), reverse=True)
    ]
    best = F.array_max(F.array(*entries))
    return best["lang"]


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint (OpenRefine-style key collision hash):
    md5 of the sorted distinct lowercase token set. Near-identical
    docs with reordered/duplicated words collide."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.array_sort(F.array_distinct(F.split(F.lower(F.trim(c)), r"\s+")))
    return F.md5(F.array_join(toks, " "))


#: PII patterns — kept to syntax shared by Java regex and RE2 (character
#: classes, bounded repeats, \b, plain groups; no lookarounds) so the
#: DuckDB oracle replays them verbatim.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"


def scrub_pii(text: Column | str) -> Column:
    """Redact obvious PII spans (training-data hygiene): emails ->
    <EMAIL>, IPv4 addresses -> <IP>. Pure regexp_replace chain — stays
    in codegen, linear scan per doc; extend the pattern list for
    phone/SSN formats per jurisdiction. Order matters (email first: an
    address-like host inside an email must not be half-replaced) and is
    mirrored in the oracle."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(out, PII_IPV4, "<IP>")


def repetition_ratio(text: Column | str) -> Column:
    """Fraction of tokens taken by the single most frequent token — the
    cheap boilerplate/spam signal (near 1.0 = one token repeated).
    Higher-order array functions only; per-doc cost is
    O(tokens x distinct), bounded by doc length, embarrassingly
    parallel across docs."""
    t = tokens(text)
    d = F.array_distinct(t)
    counts = F.transform(d, lambda w: F.size(F.filter(t, lambda x: x == w)))
    # empty-doc guard (ADVICE r4): size 0 would divide by zero, whose
    # result differs between Spark (non-ANSI NULL) and ANSI engines —
    # pin the edge case to an explicit NULL in both
    return F.when(
        F.size(t) > 0, F.round(F.array_max(counts).cast("double") / F.size(t), 4)
    )


def simhash_bits(text: Column | str, n_bits: int = 16) -> Column:
    """SimHash over whitespace tokens, emitted as an n_bits 0/1 string.

    Bit j of a token's hash = parity of hex char j%32 of md5(token)
    for j < 32, of md5('<j//32>:' || token) beyond (md5 yields only 32
    hex chars) — deterministic and computable in any SQL engine
    (ascii(substr(..))). Same values as operators.dedup.
    simhash_signatures at every width."""
    t = tokens(text)

    def mk(j: int):
        # closure factory: a default-arg capture would change arity and
        # break higher-order-function resolution
        def step(acc, x):
            src = x if j < 32 else F.concat(F.lit(f"{j // 32}:"), x)
            return acc + (F.ascii(F.substring(F.md5(src), j % 32 + 1, 1)) % 2) * 2 - 1

        return step

    bits = []
    for j in range(n_bits):
        contrib = F.aggregate(t, F.lit(0), mk(j))
        bits.append(F.when(contrib > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)
