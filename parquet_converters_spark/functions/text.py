"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are pure ``pyspark.sql.functions`` column expressions —
JVM-side, whole-stage-codegen-friendly, no Python UDFs — so they scale
linearly with executors and survive 100 TB inputs as narrow map stages.

Every operator has an exactly-equivalent ANSI-SQL formulation (used by
the DuckDB oracle in ``__spark_entry__.py``); the shared deterministic
hash is ``int(md5(s)[:8], 16)`` which both engines can compute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_PATTERN = "[a-z0-9]+"
#: the characters quality_score's alpha ratio counts (``[a-z0-9 ]``)
_ALPHA_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 "

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately small and fixed: the operator contract is a
#: deterministic scoring function, not a trained model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "las", "y", "de", "un", "una", "es", "para"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"],
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def bind(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and pass the result to ``fn`` as a
    lambda variable.

    Catalyst's subexpression elimination does not reach inside
    higher-order-function lambdas, so an expression like
    ``transform(seq, i -> slice(tokens(text), i, n))`` re-runs the whole
    ``tokens`` pipeline per array element — O(len^2) per row.  Wrapping
    the shared input in a one-element array and transforming over it
    binds it to a lambda variable, forcing single evaluation:
    ``element_at(transform(array(col), x -> fn(x)), 1)``."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def tokens(text: Column | str) -> Column:
    """Lowercased alphanumeric tokens (BPE-ish regex tokenizer baseline)."""
    return F.regexp_extract_all(F.lower(_col(text)), F.lit(TOKEN_PATTERN), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as space-joined strings; empty array when the
    document has fewer than ``n`` tokens."""
    return bind(
        tokens(text),
        lambda t: F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.array_join(F.slice(t, i + 1, n), " "),
            )
        ),
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length band, alpha ratio,
    mean token length band, stopword presence.  Pure arithmetic — same
    formula is mirrored in the oracle SQL.

    The alpha count (``[a-z0-9 ]`` characters of the lowercased text) is
    the lowercased length minus what ``translate`` leaves after deleting
    them, and the tokens' total length is the length of their
    concatenation: the oracle's ``regexp_replace`` count and per-token
    sum, without a regex pass or an interpreted per-token lambda."""
    c = _col(text)
    n_chars = F.length(c)
    low = F.lower(c)
    alpha = F.length(low) - F.length(F.translate(low, _ALPHA_CHARS, ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))

    def _score(toks: Column) -> Column:
        n_tokens = F.size(toks)
        mean_tok = F.length(F.array_join(toks, "")) / F.greatest(n_tokens, F.lit(1))
        stop_hits = F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS["en"]]))
        )
        return (
            F.when((n_chars >= 50) & (n_chars <= 10000), F.lit(0.25)).otherwise(F.lit(0.0))
            + F.when(alpha_ratio >= 0.8, F.lit(0.25)).otherwise(F.lit(0.0))
            + F.when((mean_tok >= 3) & (mean_tok <= 10), F.lit(0.25)).otherwise(F.lit(0.0))
            + F.when(stop_hits >= 2, F.lit(0.25)).otherwise(F.lit(0.0))
        )

    return bind(tokens(text), _score)


def language_id(text: Column | str) -> Column:
    """Argmax language by stopword overlap; ties broken by language code
    order; 'und' (undetermined) when no stopword hits at all."""
    langs = sorted(STOPWORDS)

    def _argmax(toks: Column) -> Column:
        scores = {
            lang: F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])
                )
            )
            for lang in langs
        }
        best = F.greatest(*[scores[lang] for lang in langs])
        result = F.lit("und")
        # reverse order so earlier language codes win ties
        for lang in reversed(langs):
            result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
        return F.when(best == 0, F.lit("und")).otherwise(result)

    return bind(F.array_distinct(tokens(text)), _argmax)


#: stopwords for the Gopher "contains common English words" rule
#: (Rae et al. 2021, "Scaling Language Models" appendix A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_stats(text: Column | str) -> dict[str, Column]:
    """Per-document statistics behind the Gopher quality rules
    (Rae et al. 2021, appendix A1.1) — all pure column expressions, one
    narrow pass, no shuffle:

    - ``word_count``: whitespace-delimited words
    - ``mean_word_len``: average word length
    - ``symbol_word_ratio``: '#' or '...' occurrences per word
    - ``bullet_line_frac``: fraction of lines starting with a bullet
    - ``ellipsis_line_frac``: fraction of lines ending with '...'
    - ``alpha_word_frac``: fraction of words containing a letter
    - ``stopword_hits``: distinct Gopher stopwords present
    """
    c = _col(text)
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_lines = F.size(F.split(c, "\n"))
    safe_w = F.greatest(n_words, F.lit(1))
    safe_l = F.greatest(n_lines, F.lit(1))

    def _word_stats(w: Column) -> Column:
        return F.struct(
            F.size(w).alias("n"),
            (
                F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x))
                / F.greatest(F.size(w), F.lit(1))
            ).alias("mean_len"),
            F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))).alias("n_alpha"),
        )

    ws = bind(words, _word_stats)
    # symbol occurrences: '#' chars plus '...' runs (split yields runs+1 parts)
    n_symbols = (
        F.length(c)
        - F.length(F.replace(c, F.lit("#"), F.lit("")))
        + F.size(F.split(c, r"\.\.\.")) - 1
    )
    lines = F.split(c, "\n")
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$"))
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens(c)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    return {
        "word_count": n_words,
        "mean_word_len": ws["mean_len"],
        "symbol_word_ratio": n_symbols / safe_w,
        "bullet_line_frac": bullet_lines / safe_l,
        "ellipsis_line_frac": ellipsis_lines / safe_l,
        "alpha_word_frac": ws["n_alpha"] / safe_w,
        "stopword_hits": stop_hits,
    }


#: Gopher rule thresholds: (stat, operator, bound).  Word-count bounds
#: are scaled down from the paper's 50..100k to fit short synthetic
#: docs; the rule *structure* is the contract.
GOPHER_RULES = [
    ("too_few_words", "word_count", ">=", 10),
    ("too_many_words", "word_count", "<=", 100000),
    ("mean_word_len_low", "mean_word_len", ">=", 2.0),
    ("mean_word_len_high", "mean_word_len", "<=", 12.0),
    ("symbol_ratio", "symbol_word_ratio", "<=", 0.1),
    ("bullet_lines", "bullet_line_frac", "<=", 0.9),
    ("ellipsis_lines", "ellipsis_line_frac", "<=", 0.3),
    ("alpha_words", "alpha_word_frac", ">=", 0.8),
    ("stopwords", "stopword_hits", ">=", 2),
]


def gopher_flags(text: Column | str) -> dict[str, Column]:
    """Boolean pass/fail per Gopher rule (True = passes)."""
    stats = gopher_stats(text)
    out = {}
    for name, stat, op, bound in GOPHER_RULES:
        s = stats[stat]
        out[name] = (s >= bound) if op == ">=" else (s <= bound)
    return out


def char_entropy(text: Column | str, precision: int = 3) -> Column:
    """Shannon entropy (bits) of the character distribution — a cheap
    gibberish/boilerplate detector (near-zero entropy = repeated filler,
    very high = random bytes).

    Computed entirely within the row (split → distinct → filter-count
    per distinct char), O(distinct_chars × len) per document, no
    shuffle, no UDF.  Rounded to ``precision`` decimals so the
    summation-order float noise (array_distinct order differs across
    engines) cannot flip a downstream bucket."""
    c = _col(text)

    def _ent(chars: Column) -> Column:
        n = F.size(chars)
        return F.aggregate(
            F.array_distinct(chars),
            F.lit(0.0),
            lambda acc, d: acc
            + bind(
                F.size(F.filter(chars, lambda x: x == d)) / n,
                lambda p: -p * F.log2(p),
            ),
        )

    chars = F.filter(F.split(c, ""), lambda x: x != "")
    return F.round(bind(chars, _ent), precision)


def doc_fingerprint(text: Column | str) -> Column:
    """64-bit-ish content fingerprint: first 15 hex chars of md5 as a
    bigint (shared with the DuckDB oracle)."""
    return F.conv(F.substring(F.md5(_col(text).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def with_char_entropy_arrow(
    df,
    text_col: str = "text",
    out_col: str = "entropy",
    precision: int = 3,
):
    """Arrow-batched counterpart of :func:`char_entropy` (same rounded
    values): one ``mapInPandas`` pass computing each document's
    character histogram in Python.

    Measured at sf0.1 (5000 docs, ~10 MB text): the interpreted
    higher-order-function form pays ~distinct_chars x len lambda
    invocations per document (HOFs run outside whole-stage codegen),
    while this path is one Arrow transfer + a Counter per doc —
    use it when char-level stats dominate a pipeline stage.  Rounding
    to ``precision`` absorbs the summation-order float noise between
    the two paths (asserted equal in tests).
    """
    from collections import Counter
    from math import log2

    from pyspark.sql.types import DoubleType, StructField, StructType

    # NB: StructType.add mutates in place — never call it on df.schema
    # (that corrupts the input DataFrame's cached schema object)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def fn(batches):
        for pdf in batches:
            ents = []
            for t in pdf[text_col]:
                t = t or ""
                n = len(t)
                if n == 0:
                    ents.append(0.0)
                    continue
                e = -sum(
                    (v / n) * log2(v / n) for v in Counter(t).values()
                )
                ents.append(round(e, precision))
            pdf = pdf.copy()
            pdf[out_col] = ents
            yield pdf

    return df.mapInPandas(fn, schema)


def normalize_text(text: Column | str) -> Column:
    """Canonical text cleaning — the idempotent normalization stage
    every ingestion pipeline runs before hashing/dedup (reference
    analogue: the touch scan's canonicalization of raw records before
    keying).  ASCII-safe by design so every engine computes the same
    bytes: control chars (except \\n, \\t) stripped, \\r\\n -> \\n, tabs
    and runs of spaces collapsed, per-line trailing space removed,
    3+ blank lines collapsed to 2, leading/trailing whitespace trimmed.
    Unicode NFC is deliberately NOT applied here: normalization forms
    differ subtly across engine ICU versions, which would make
    content hashes engine-dependent.  Idempotence is property-tested
    (normalize(normalize(x)) == normalize(x))."""
    c = _col(text)
    c = F.regexp_replace(c, "\r\n?", "\n")
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    c = F.regexp_replace(c, "[ \t]+", " ")
    c = F.regexp_replace(c, " ?\n ?", "\n")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    # full-whitespace trim: F.trim strips only the space character
    return F.regexp_replace(c, "^\\s+|\\s+$", "")


def canonicalize_url(url: Column | str) -> Column:
    """URL canonicalization — the dedup key a crawl corpus needs
    BEFORE content hashing (the same page arrives as http://WWW.X.COM,
    https://www.x.com/?utm_source=feed, http://www.x.com:80/#top, ...).
    Pure built-in expressions so Catalyst keeps it in codegen and
    every engine computes identical strings:

    - scheme and host lowercased (path case preserved — it is
      significant per RFC 3986);
    - default ports stripped (:80 for http, :443 for https);
    - fragment dropped;
    - tracking query parameters dropped (utm_*, fbclid, gclid), the
      remaining query kept in order; a now-empty query loses its '?';
    - duplicate slashes in the path collapsed; a trailing slash on a
      non-root path stripped; a bare host gains its root '/'.
    """
    c = _col(url)
    # lowercase scheme://host (up to the first '/', '?' or '#')
    c = F.concat(
        F.lower(F.regexp_extract(c, "^([^/?#]*//[^/?#]*)", 1)),
        F.regexp_replace(c, "^[^/?#]*//[^/?#]*", ""),
    )
    c = F.regexp_replace(c, "#.*$", "")  # fragment
    c = F.regexp_replace(c, "^(http://[^/?#]*):80(?=[/?]|$)", "$1")
    c = F.regexp_replace(c, "^(https://[^/?#]*):443(?=[/?]|$)", "$1")
    # split into authority / path / query so the cleanups can't leak
    # across components (a '&' is legal IN a path, '//' is legal IN a
    # query value — each rule applies only where it means something)
    # RFC 3986 §3.1: scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
    # (s3+http://, svn+ssh://, chrome-extension:// must keep their '//')
    base = F.regexp_extract(c, "^([a-z][a-z0-9+.-]*://[^/?]*)", 1)
    path_q = F.regexp_replace(c, "^[a-z][a-z0-9+.-]*://[^/?]*", "")
    path = F.regexp_extract(path_q, "^([^?]*)", 1)
    query = F.regexp_replace(path_q, "^[^?]*", "")
    # tracking params (query only)
    query = F.regexp_replace(
        query, "([?&])(utm_[^=&#]*|fbclid|gclid)=[^&#]*", "$1"
    )
    query = F.regexp_replace(query, "&&+", "&")  # holes left above
    query = F.regexp_replace(query, "\\?&", "?")
    query = F.regexp_replace(query, "[?&]$", "")  # empty query
    # path cleanup: collapse //, strip non-root trailing /
    path = F.regexp_replace(path, "//+", "/")
    path = F.regexp_replace(path, "(?<=[^/])/$", "")
    # bare host -> root path
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    return F.concat(base, path, query)


def surt_key(url: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the
    ``urlkey`` of a CDX crawl index (the standard index artifact
    shipped next to WARC archives): host components reversed and
    comma-joined so one host's captures sort contiguously, e.g.
    ``HTTPS://WWW.Sub.Example.COM:443/A/b?b=2&a=1#f`` ->
    ``com,example,sub)/a/b?a=1&b=2``.

    Rules (aligned with the Common Crawl ``urlkey``): the whole URL is
    lowercased; scheme, fragment, userinfo, port, and a leading
    ``www.`` are dropped; host labels are reversed around commas;
    query parameters are sorted bytewise; an empty path becomes ``/``.
    Pure built-in expressions (split/reverse/array_join/array_sort —
    Catalyst keeps the whole chain in codegen), so every engine
    computes identical keys.  Unlike :func:`canonicalize_url` (a
    DEDUP key that preserves RFC 3986 path case), the SURT key is an
    INDEX key — full lowercasing is the point."""
    c = F.lower(_col(url))
    c = F.regexp_replace(c, "#.*$", "")  # fragment
    c = F.regexp_replace(c, "^[a-z][a-z0-9+.-]*://", "")  # scheme
    authority = F.regexp_extract(c, "^([^/?]*)", 1)
    rest = F.regexp_replace(c, "^[^/?]*", "")
    host = F.regexp_replace(authority, "^[^@]*@", "")  # userinfo
    host = F.regexp_replace(host, ":[0-9]*$", "")  # port
    host = F.regexp_replace(host, "^www\\.", "")
    # empty DNS labels (FQDN trailing dot 'example.com.', crawl-data
    # junk 'a..b') must not become empty SURT segments — a leading
    # comma would sort the host away from its own captures
    labels = F.filter(F.split(host, "\\."), lambda x: F.length(x) > 0)
    rhost = F.array_join(F.reverse(labels), ",")
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    query = F.regexp_replace(rest, "^[^?]*\\??", "")
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rhost, F.lit(")"), path,
        F.when(F.length(query) == 0, F.lit(""))
        .otherwise(F.concat(F.lit("?"), sorted_q)),
    )


def url_host(url: Column | str) -> Column:
    """The registrable host of a canonicalized URL (port already
    stripped), with a leading ``www.`` removed — the standard
    domain-level aggregation key."""
    h = F.regexp_extract(_col(url), "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    return F.regexp_replace(h, "^www\\.", "")


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    steps: int = 6,
) -> DataFrame:
    """Learn the first ``steps`` BPE merges from a corpus — the full
    iterative tokenizer-training loop (Sennrich et al. 2016), not just
    the first pair count (that single step is ``bpe_merge_candidates``
    in queries.py).

    Scale shape: ONE corpus-size shuffle builds the distinct-word
    frequency table (explode + hash groupBy with map-side combine);
    every merge iteration then runs on that vocabulary table alone —
    pair counts are a hash aggregate whose shuffle carries distinct
    pairs (bounded by the evolving symbol alphabet, not corpus size),
    and the winning pair is one collected row per step (O(steps)
    driver state, the kmeans/PC1 precedent).  At 100 TB the word table
    is the classic sub-linear BPE working set; the per-step rewrite is
    a narrow map over it.

    Symbol sequences are encoded as DOUBLE-space-joined strings so a
    plain (regex-free) left-to-right ``replace`` applies a merge to
    every non-overlapping occurrence: each boundary owns two spaces,
    the pattern `` l  r `` consumes one from each side, and adjacent
    occurrences still match (`` a  a  a `` -> `` aa  a ``, exactly the
    greedy BPE scan).  Ties break on (count DESC, left ASC, right ASC)
    — deterministic and engine-portable (ASCII-only symbols).

    Returns ``(step, left, right, merged, n)``, one row per learned
    merge."""
    merges, words = _bpe_learn(df, text_col, steps)
    words.unpersist()
    return merges


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    steps: int = 6,
) -> DataFrame:
    """ENCODE the corpus with its own learned BPE merges: run the
    :func:`learn_bpe_merges` loop, then aggregate the final symbol
    vocabulary — ``(token, n)`` where ``n`` is total corpus frequency
    (word frequency summed over the tokens each word encodes to).
    This is the apply half of tokenizer training: the merge table is
    only useful if encoding with it is itself distributable, and here
    encoding is the same narrow rewrite the learning loop already
    runs, so the census comes from the final vocabulary table with
    one more explode + hash aggregate."""
    merges, words = _bpe_learn(df, text_col, steps)
    toks = (
        words.select(
            F.explode(F.split("sym", "  ")).alias("token"), "freq"
        )
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
        # vocab-size result: EAGER localCheckpoint (the no-residue
        # house pattern) so the words cache can be released now
        .localCheckpoint(eager=True)
    )
    words.unpersist()
    return toks


def _bpe_learn(df: DataFrame, text_col: str, steps: int):
    """The shared BPE loop: returns ``(merges_df, words_df)`` where
    ``words_df`` is the PERSISTED final vocabulary (``sym`` in the
    double-space encoding, ``freq``) — the caller owns the
    unpersist."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.array_join(
                F.regexp_extract_all("w", F.lit("."), 0), "  "
            ).alias("sym"),
            "freq",
        )
        .persist()
    )
    merges = []
    try:
        for step in range(1, steps + 1):
            arr = F.split("sym", "  ")
            pairs = (
                words.select(
                    "freq",
                    F.explode(
                        F.transform(
                            # sequence(1, 0) DESCENDS in Spark, so
                            # single-symbol words need an explicit
                            # empty index list
                            F.when(
                                F.size(arr) >= 2,
                                F.sequence(F.lit(1), F.size(arr) - 1),
                            ).otherwise(F.array().cast("array<int>")),
                            lambda i: F.struct(
                                F.element_at(arr, i).alias("l"),
                                F.element_at(arr, i + 1).alias("r"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("n"))
            )
            top = pairs.orderBy(
                F.desc("n"), F.asc("l"), F.asc("r")
            ).limit(1).collect()
            if not top:
                break
            left, right, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
            merged = left + right
            merges.append((step, left, right, merged, n))
            nxt = words.select(
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                        F.lit(f" {left}  {right} "),
                        F.lit(f" {merged} "),
                    )
                ).alias("sym"),
                "freq",
            ).persist()
            # materialize the rewrite BEFORE dropping the parent cache
            # — unpersisting a still-lazy child would force every later
            # step to recompute the whole replace chain from the
            # corpus aggregate (O(steps^2) instead of O(steps)).  If
            # the materializing count itself fails, drop nxt's cache
            # HERE: the outer handler only knows `words` (still the
            # parent at this point) and would leak the fresh persist.
            try:
                nxt.count()
            except BaseException:
                nxt.unpersist()
                raise
            words.unpersist()
            words = nxt
    except BaseException:
        words.unpersist()
        raise
    return (
        spark.createDataFrame(
            merges,
            "step int, left string, right string, merged string, n long",
        ),
        words,
    )
