"""Text-analysis primitives for the LLM-data-pipeline surface
(SURVEY.md §2.11): tokenization, shingles, language-ID heuristic, quality
scoring, token counting, document fingerprinting.

All pure ``pyspark.sql.functions`` compositions — they run inside
whole-stage codegen and scale linearly with no Python crossings. Each has
a documented ANSI-SQL equivalent used by the oracle queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deliberately tiny, deterministic English stopword list (shared verbatim
# with oracle SQL — keep sorted, lowercase).
STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "in",
    "is", "it", "of", "on", "or", "that", "the", "to", "with",
]

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Lowercased word tokens; empty strings filtered out.
    SQL equivalent: list_filter(string_split_regex(lower(x), re), t -> t <> '')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def normalized_words(col: Column | str) -> Column:
    """The corpus word rule (BPE training, corpus KL): the lowercased
    text split on whitespace runs, each word stripped to [a-z0-9], empty
    words dropped — an array column to explode. Stripping every
    character outside [a-z0-9] and whitespace BEFORE the split yields the
    same words as stripping each word after it, in one regex pass.
    SQL equivalent: list_filter(list_transform(string_split_regex(
    lower(trim(x)), '\\s+'), u -> regexp_replace(u, '[^a-z0-9]', '', 'g')),
    u -> u <> '')."""
    c = F.col(col) if isinstance(col, str) else col
    kept = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", "")
    return F.filter(F.split(kept, r"\s+"), lambda w: w != "")


def token_count(col: Column | str) -> Column:
    """Whitespace/punct token count (BPE-ish proxy: alnum runs)."""
    return F.size(tokens(col))


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles of the lowercased text (for MinHash)."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(lowered) - (n - 1), F.lit(1))),
        lambda i: F.substring(lowered, i, n),
    )


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles from a *materialized* token-array column.
    Returns an empty array when the doc has < n tokens.

    Take tokens as a real column, not an inline ``tokens(text)`` call:
    Catalyst expressions are trees, not DAGs, so an inline tokenization
    would re-run the regex split once per shingle position (~50x per doc).
    """
    t = F.col(toks) if isinstance(toks, str) else toks
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles straight from a text column. Convenience form;
    for hot paths project ``tokens(col)`` into a column first and use
    ``shingles_from_tokens`` (see its docstring)."""
    return shingles_from_tokens(tokens(col), n)


def stopword_ratio(col: Column | str, toks: Column | None = None) -> Column:
    """Pass ``toks`` (a materialized ``tokens(col)`` column) on hot paths —
    inline tokenization is re-evaluated per reference (tree, not DAG)."""
    toks = tokens(col) if toks is None else toks
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / F.size(toks)
    )


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, "[a-zA-Z0-9\\s]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c)
    )


def avg_word_len(col: Column | str, toks: Column | None = None) -> Column:
    toks = tokens(col) if toks is None else toks
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def lang_id(col: Column | str, toks: Column | None = None) -> Column:
    """N-gram/stopword heuristic language ID: 'en' when the stopword ratio
    clears a threshold and the text is mostly ASCII letters, else 'unk'.
    Deliberately simple + fully portable to the oracle SQL."""
    return F.when(stopword_ratio(col, toks) >= 0.05, F.lit("en")).otherwise(F.lit("unk"))


def quality_score(col: Column | str, toks: Column | None = None) -> Column:
    """Composite [0,1] quality score: length band + low punctuation +
    healthy stopword ratio + sane word length. Weights are arbitrary but
    fixed; the score is deterministic and portable."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = F.when(F.length(c).between(100, 20000), F.lit(0.25)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(c, toks).between(0.02, 0.6), F.lit(0.25)).otherwise(
        F.lit(0.0)
    )
    wlen_ok = F.when(avg_word_len(c, toks).between(2.0, 12.0), F.lit(0.25)).otherwise(
        F.lit(0.0)
    )
    return len_ok + punct_ok + stop_ok + wlen_ok


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set — invariant to word order and repetition (near-dup canonical key)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def normalized_hash(col: Column | str) -> Column:
    """Exact-dedup key: sha256 of whitespace-collapsed lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(F.regexp_replace(F.trim(F.lower(c)), "\\s+", " "), 256)


ROLLING_B = 257
ROLLING_M = 2147483647  # 2^31 - 1; acc*B + x stays < 2^40, exact in BIGINT


def token_hash24(tok: Column) -> Column:
    """24-bit md5-derived token value (first 6 hex digits) — portable: the
    oracle rebuilds it digit-by-digit with strpos/pow. 24 bits keeps the
    fold arithmetic exact in BIGINT on both engines; birthday bound ~2^12
    tokens per doc, fine for fingerprinting (not for global dedup keys)."""
    return F.conv(F.substring(F.md5(tok), 1, 6), 16, 10).cast("long")


def _hash24_u01(key: Column) -> Column:
    """Deterministic uniform strictly inside (0, 1): the md5-24 value of
    ``key`` shifted to its bucket midpoint, ``(h + 0.5) / 2^24``, so
    ln(u) and ln(1 - u) stay finite. Portable digit-for-digit."""
    return (token_hash24(key) + F.lit(0.5)) / F.lit(float(16**6))


def rolling_fingerprint(toks: Column | str) -> Column:
    """Order-SENSITIVE Rabin-Karp rolling hash over the token sequence:
    h = fold(h * B + md5_24(tok) mod M). Complements the order-invariant
    sorted-set fingerprint (q48): reordered or repeated content changes
    this hash. A left fold over an array column — JVM-side, no UDF."""
    t = F.col(toks) if isinstance(toks, str) else toks
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * ROLLING_B + token_hash24(tok)) % ROLLING_M,
    )


BPE_ISH_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token-count estimator: alpha runs, digit runs, and each
    punctuation mark count separately (the shape of byte-pair tokenizer
    output), vs the coarser whitespace/alnum count of ``token_count``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_ISH_RE), F.lit(0)))


# PII redaction patterns: kept to syntax valid AND equivalent in both
# Java regex (Spark) and RE2 (DuckDB) — no lookarounds, no backrefs.
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"
IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def redact_pii(col: Column | str) -> Column:
    """Email/phone/IPv4 redaction — the scrubbing pass a training corpus
    runs before anything else. Chained ``regexp_replace`` stays inside
    whole-stage codegen (map-only, no Python). Order matters: emails
    first so their digits can't be half-eaten by the phone pattern.
    SQL equivalent: the same three regexp_replace calls with the 'g'
    flag (Spark replaces all occurrences by default)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PHONE_RE, "[PHONE]")
    return F.regexp_replace(out, IPV4_RE, "[IP]")

# --- pluggable real-tokenizer boundary ---------------------------------------
# The regex estimators above are the zero-dependency default and back every
# oracle query. A production packing/chunking pipeline budgets in MODEL
# tokens; these wrappers route a user-supplied tokenizer callable (e.g.
# tiktoken's encode, a sentencepiece processor, an HF fast tokenizer)
# through Arrow-batched pandas UDFs — the only sanctioned Python crossing,
# dependency-gated exactly like the protobuf-gated streaming surface: the
# default path never imports anything, and the real-tokenizer path fails
# (or pytest-skips) cleanly when the library is absent.


def make_tokenizer_udfs(tokenizer):
    """Wrap ``tokenizer`` (a picklable ``str -> list`` callable; elements
    may be subword strings or integer BPE ids) into a pair of
    Arrow-batched pandas UDFs:

        (tokenize_udf, count_udf)

    ``tokenize_udf(col) -> array<string>`` (ids stringified) and
    ``count_udf(col) -> long``. Use ``count_udf`` to feed model-real
    token budgets into ``pack_by_token_budget`` and ``tokenize_udf`` for
    ``chunk_documents(tokenizer=...)``. NULL text tokenizes as empty.

    Scale shape: both UDFs are vectorized (one Arrow batch per
    invocation, ~10-100x a row-at-a-time UDF) and map-only — the
    tokenizer ships to executors by closure serialization, so it must be
    picklable (tiktoken encodings and sentencepiece processors are)."""
    # module-level pandas import would contradict this file's all-JVM
    # contract; imported here and injected into the annotations' resolution
    # namespace (PEP 563 type hints resolve against module globals)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals().setdefault("pd", pd)

    @pandas_udf("array<string>")
    def tokenize_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda t: [str(x) for x in tokenizer(t)] if t else [])

    @pandas_udf("long")
    def count_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda t: len(tokenizer(t)) if t else 0)

    return tokenize_udf, count_udf


def model_tokenizer(encoding: str = "cl100k_base"):
    """A real BPE tokenizer callable for ``make_tokenizer_udfs``, backed
    by tiktoken — DEPENDENCY-GATED: raises ImportError with guidance when
    tiktoken is absent (this container ships without it; tests skip
    cleanly, the regex default is unaffected)."""
    try:
        import tiktoken
    except ImportError as exc:  # pragma: no cover - container lacks tiktoken
        raise ImportError(
            "model_tokenizer requires the optional 'tiktoken' package; "
            "install it or pass your own str -> list callable to "
            "make_tokenizer_udfs"
        ) from exc
    enc = tiktoken.get_encoding(encoding)
    return lambda s: enc.encode(s or "")


def rake_keywords(
    df,
    id_col: str,
    text_col: str,
    stopwords: list[str] | None = None,
):
    """RAKE-style keyword scoring (Rose et al. 2010) over a document
    corpus: candidate phrases are maximal runs of non-stopword tokens;
    each word scores degree/frequency where degree sums the lengths of
    the phrases it appears in — multi-word-phrase members outrank
    equally-frequent isolated words.

    Phrase segmentation is GAPS-AND-ISLANDS, not regex surgery: one
    posexplode of the whitespace tokens, a stopword/punctuation flag,
    and a running-sum island id per document — every step has an
    identical SQL twin in any engine (no regex-dialect risk), and the
    whole pipeline is one per-doc window + two corpus-keyed aggs.
    Output: (word, freq, degree, score) per corpus keyword — score is
    a small-int division, raw-double bit-portable.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    stop = stopwords if stopwords is not None else STOPWORDS
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("_pos", "_raw"),
    ).select(
        "_doc",
        "_pos",
        F.regexp_replace(F.col("_raw"), "[^a-z0-9]", "").alias("_tok"),
    )
    is_stop = F.col("_tok").isin(stop) | (F.col("_tok") == "")
    w = Window.partitionBy("_doc").orderBy("_pos")
    islands = toks.select(
        "_doc",
        "_pos",
        "_tok",
        is_stop.alias("_stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(w).alias("_isl"),
    ).filter(~F.col("_stop"))
    phrases = islands.groupBy("_doc", "_isl").agg(
        F.count("*").alias("_plen")
    )
    member = islands.join(phrases, ["_doc", "_isl"])
    return (
        member.groupBy(F.col("_tok").alias("word"))
        .agg(
            F.count("*").alias("freq"),
            F.sum("_plen").alias("degree"),
        )
        .select(
            "word",
            "freq",
            "degree",
            (F.col("degree").cast("double") / F.col("freq")).alias("score"),
        )
    )


# --- web-corpus preprocessing: HTML strip + URL canonicalization ------------
# Same dialect discipline as the PII patterns: every regex is valid AND
# equivalent in Java regex (Spark) and RE2 (DuckDB) — inline (?is) flags,
# lazy quantifiers, no lookarounds, no backreferences in patterns, and no
# $1/\1 replacement backrefs (the one place the dialects spell things
# differently).

_TRACKING_PARAMS = "(utm_[a-zA-Z]+|fbclid|gclid|msclkid)"


def strip_html(col: Column | str) -> Column:
    """Boilerplate HTML → text: drop <script>/<style>/comments WITH their
    contents, replace remaining tags with a space (so ``a</p><p>b`` never
    fuses into ``ab``), decode the six entities that dominate real web
    text, collapse whitespace. Chained ``regexp_replace`` — map-only,
    whole-stage codegen, no parser dependency. (A conformant DOM parse is
    out of scope by design: at corpus scale the lexical strip is the
    standard first pass — trafilatura-class extraction plugs in behind
    the same column contract via mapInPandas when available.)"""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, "(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, "(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, "<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", "\""),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # last: &amp;lt; must NOT become <
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, "\\s+", " "))


def url_host(col: Column | str) -> Column:
    """Lowercased host of an absolute URL: authority minus userinfo and
    port. NULL-propagating; relative URLs yield ''."""
    c = F.col(col) if isinstance(col, str) else col
    auth = F.regexp_extract(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    return F.lower(
        F.regexp_replace(F.regexp_replace(auth, "^[^@]*@", ""), ":[0-9]+$", "")
    )


_CC_SLD_RE = "[^.]+\\.(co|com|net|org|gov|ac|edu)\\.[a-z]{2}$"


def url_registered_domain(col: Column | str) -> Column:
    """Registered (pay-level) domain of a URL's host — the per-site
    grouping key for crawl quotas and domain mixing. HEURISTIC fallback
    (pure column expression, no data dependency): last two labels, or
    last THREE when the second-level label is a registry-like ccTLD
    second level (co.uk, com.au, ac.jp, ...). For real corpora use
    ``functions.psl.psl_registered_domain`` — the full Public-Suffix-List
    algorithm (wildcards, exceptions, private section) as broadcast
    joins; this heuristic mis-keys multi-label suffixes beyond its
    hardcoded set (gob.mx, k12.tr, *.sch.uk, github.io, ...)."""
    host = url_host(col)
    return F.when(
        host.rlike(_CC_SLD_RE), F.regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    ).otherwise(F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1))


def url_normalize(col: Column | str) -> Column:
    """Canonical URL for dedup/grouping: lowercase scheme+authority, drop
    the fragment, drop default ports (:80 http / :443 https), strip
    tracking parameters (utm_*, fbclid, gclid, msclkid) with separator
    repair, drop a bare trailing '?'. Pure chained regexp_replace in the
    Java/RE2 common subset — no replacement backrefs, so the identical
    rewrite chain runs in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(c, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    auth = F.lower(F.regexp_extract(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    auth = F.when(
        (scheme == "http"), F.regexp_replace(auth, ":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(auth, ":443$", "")
    ).otherwise(auth)
    rest = F.regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    rest = F.regexp_replace(rest, "#.*$", "")  # fragment first
    rest = F.regexp_replace(rest, "&" + _TRACKING_PARAMS + "=[^&#]*", "")
    rest = F.regexp_replace(rest, "\\?" + _TRACKING_PARAMS + "=[^&#]*&", "?")
    rest = F.regexp_replace(rest, "\\?" + _TRACKING_PARAMS + "=[^&#]*$", "")
    return F.when(
        scheme == "", c  # relative / schemeless: pass through untouched
    ).otherwise(F.concat(scheme, F.lit("://"), auth, rest))


def blocklist_hits(
    text_col: "Column | str",
    terms: "list[str]",
    phrases: "list[str] | None" = None,
) -> "tuple[Column, Column, Column]":
    """CONTENT-FILTER primitive (the blocklist gate every training
    corpus runs before quality scoring — policy terms, spam markers,
    boilerplate signatures): returns ``(n_hits, hit_terms, flagged)``
    where single-word ``terms`` match on WHOLE TOKENS via
    array_intersect against a broadcast literal list (no regex at all —
    immune to the Java-vs-RE2 divergence class and to substring false
    positives like 'class' in 'classic'), and multi-word ``phrases``
    match by lowercase substring ``contains`` (a bounded codegen'd OR
    chain). ``hit_terms`` is the sorted comma-join of matched entries —
    a scalar per the SURVEY §5.3 contract.

    Map-only, whole-stage codegen, zero shuffles; the blocklist ships
    as plan literals (the PSL/broadcast-dim discipline applies past a
    few thousand entries — join on the token instead)."""
    if not terms and not phrases:
        raise ValueError("need at least one term or phrase")
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    word_hits = F.array_sort(
        F.array_intersect(
            tokens(c), F.array(*[F.lit(t.lower()) for t in (terms or [])])
        )
    )
    low = F.lower(c)
    phrase_hits = F.filter(
        F.array(*[F.lit(p.lower()) for p in (phrases or [])]),
        lambda p: F.contains(low, p),
    )
    all_hits = F.array_sort(F.concat(word_hits, phrase_hits))
    n = F.size(all_hits).cast("long")
    return n, F.array_join(all_hits, ","), n > 0
