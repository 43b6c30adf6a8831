"""Text-analysis operators for training-data pipelines.

All operators are pure native Column expressions (JVM-side, no Python
UDFs) over a documents table ``(doc_id, text, ...)`` — at 100 TB these
run inside whole-stage codegen with zero shuffle (narrow, per-row), so
throughput is scan-bound.

Each operator has a DuckDB-SQL twin used by the correctness oracle (the
same isomorphic-pair discipline as functions/converters.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webhookdb_spark.operators.util import bind, scale_out

# Explicit whitespace class shared by Java regex (Spark) and RE2
# (DuckDB): Java's ASCII \s includes \x0B (vertical tab), RE2's does
# not -- found by the hypothesis cross-engine property test. Every twin
# pattern uses this class so both engines tokenize identically.
WS = r"[ \t\n\r\f\x0B]+"

# Tiny deterministic stopword lexicons for the language-ID heuristic and
# quality scoring. (A real deployment would ship per-language n-gram
# profiles; the *operator shape* — scoring against broadcast profiles —
# is identical.)
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


_UPPER_ASCII = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER_ASCII = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(c: Column) -> Column:
    """Locale-free ASCII lowercasing for normalization twins.

    Full Unicode lower() DIVERGES between engines (property-test
    finding: Java expands Turkish İ to i+U+0307 and applies contextual
    final sigma; DuckDB does neither), so every twin that normalizes
    case uses this translate — deterministic in any engine; non-ASCII
    letters pass through on both sides. Dedup/langid normalization
    needs determinism, not locale fidelity."""
    return F.translate(c, _UPPER_ASCII, _LOWER_ASCII)


SQL_ASCII_LOWER = "translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), WS)


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token + char counting (the `wc` of the pipeline)."""
    # Bind the token array once (see util.bind) so the two size()
    # columns don't each re-split the text.
    b = bind(scale_out(df.select("doc_id", text_col)), "_t", tokens(F.col(text_col)))
    t = F.col("_t")
    return b.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.length(text_col).alias("n_chars_computed"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, mean word length, stopword
    ratio, type-token ratio, and a composite score.

    All arithmetic is done in exact integer/decimal space until the
    final rounded doubles so results are engine-portable.
    """
    b = bind(scale_out(df.select("doc_id", text_col)), "_t", tokens(F.col(text_col)))
    t = F.col("_t")
    n_tok = F.size(t)
    n_chars = F.length(text_col)
    stop_hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS_EN)))
    uniq = F.size(F.array_distinct(t))
    mean_wl = F.round(
        (n_chars - (n_tok - 1)).cast("double") / n_tok, 6
    )  # chars minus separators over tokens
    stop_ratio = F.round(stop_hits.cast("double") / n_tok, 6)
    ttr = F.round(uniq.cast("double") / n_tok, 6)
    # Composite score in EXACT decimal arithmetic: n_tok/64 has ≤6
    # decimal places (power-of-two divisor), the ratios are 6-dp by
    # construction, and the 0.4/0.3 weights are 1-dp — so the weighted
    # sum is exact at 7 dp and rounds identically in any engine.
    dec = "decimal(12,6)"
    lf = F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0)).cast(dec)
    score = F.round(
        lf * F.lit(0.4).cast("decimal(2,1)")
        + stop_ratio.cast(dec) * F.lit(0.3).cast("decimal(2,1)")
        + ttr.cast(dec) * F.lit(0.3).cast("decimal(2,1)"),
        6,
    ).cast("double")
    return b.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        score.alias("quality_score"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the exact-dedup key. (Reference analog: the payload-hash
    comparison used for `data !~ excluded.data` guards, SURVEY §2.2.)"""
    norm = ascii_lower(F.regexp_replace(F.trim(F.col(text_col)), WS, " "))
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu", "mit"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
}


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword-profile language ID heuristic.

    Scores the token stream against per-language profiles (broadcast
    lexicons — a map-side-only operator at any scale) and picks the
    argmax, 'und' when nothing matches. Ties break by language code
    order for determinism.
    """
    b = bind(
        scale_out(df.select("doc_id", text_col)), "_t", tokens(ascii_lower(F.col(text_col)))
    )
    t = F.col("_t")

    def profile_hits(words: tuple[str, ...]):
        return lambda x: x.isin(*words)

    scores = [
        F.size(F.filter(t, profile_hits(words))).alias(f"score_{lang}")
        for lang, words in LANG_PROFILES.items()
    ]
    scored = b.select("doc_id", *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PROFILES])
    pick = F.lit("und")
    # reversed so earlier languages win ties via later .when precedence
    for lang in reversed(list(LANG_PROFILES)):
        pick = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pick)
    pick = F.when(best == 0, F.lit("und")).otherwise(pick)
    return scored.select("doc_id", pick.alias("lang_pred"), best.cast("int").alias("lang_score"))


def sql_langid(table: str = "documents") -> str:
    t = SQL_TOKENS_LOWER.format(c="text")
    score_cols = ", ".join(
        f"len(list_filter(toks, x -> x IN ('" + "', '".join(words) + f"'))) AS score_{lang}"
        for lang, words in LANG_PROFILES.items()
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_PROFILES) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in LANG_PROFILES:
        case += f"WHEN score_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    WITH b AS (SELECT doc_id, {t} AS toks FROM {table}),
    s AS (SELECT doc_id, {score_cols} FROM b)
    SELECT doc_id, {case} AS lang_pred, CAST({best} AS INTEGER) AS lang_score FROM s
    """


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_distinct_chars, entropy): Shannon entropy in
    nats of each document's character distribution — the cheap
    gibberish/degenerate-repetition gate (near-zero entropy = one
    repeated character; ~ln(alphabet) = uniform noise) the Gopher-era
    quality cascades run before anything tokenizes.

    Expression-only, no shuffle: distinct characters come from a
    length-sequence transform, per-character counts from
    ``len(text) - len(replace(text, c, ''))``, and the entropy fold
    runs over the SORTED distinct set so the double summation order —
    hence the rounded value — is identical in any engine. Cost is
    O(len × distinct_chars) per document; a corpus of multi-megabyte
    documents would swap in an Arrow bincount kernel, but the
    expression path keeps the whole scan in codegen for typical web
    documents."""
    from webhookdb_spark.operators.util import bind, scale_out

    t = F.col(text_col)
    chars = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t)),
                lambda i: F.substring(t, i.cast("int"), 1),
            )
        )
    )
    b = bind(scale_out(df.select("doc_id", text_col)), "_cs", chars)
    n = F.length(t).cast("double")
    cnt = lambda c: (  # noqa: E731
        F.length(t) - F.length(F.replace(t, c, F.lit("")))
    ).cast("double")
    s = F.aggregate(
        F.col("_cs"),
        F.lit(0.0),
        lambda acc, c: acc + cnt(c) * F.log(cnt(c)),
    )
    ent = F.when(
        F.length(t) > 0, F.round(F.log(n) - s / n, 6)
    ).otherwise(F.lit(0.0))
    return b.select(
        "doc_id",
        F.length(t).cast("int").alias("n_chars"),
        F.size("_cs").cast("int").alias("n_distinct_chars"),
        ent.alias("entropy"),
    )


def sql_char_entropy(table: str = "documents") -> str:
    """DuckDB twin of :func:`char_entropy` — same sorted fold order,
    same count arithmetic, same rounding."""
    return f"""
    WITH b AS (
      SELECT doc_id, text, length(text) AS n,
             list_sort(list_distinct(list_transform(
               range(1, length(text) + 1),
               i -> substring(text, CAST(i AS INTEGER), 1)
             ))) AS cs
      FROM {table}
    )
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_chars,
           CAST(len(cs) AS INTEGER) AS n_distinct_chars,
           CASE WHEN n > 0 THEN round(
             ln(n::DOUBLE) - list_aggregate(list_transform(cs,
               c -> (n - length(replace(text, c, '')))::DOUBLE
                    * ln((n - length(replace(text, c, '')))::DOUBLE)),
               'sum') / n::DOUBLE, 6)
           ELSE 0.0 END AS entropy
    FROM b
    """


def repetition_stats(
    df: DataFrame, text_col: str = "text", seg_tokens: int = 5
) -> DataFrame:
    """Gopher-style intra-document repetition features. Segments are
    non-overlapping ``seg_tokens``-token windows (robust for corpora
    without line/sentence structure; a line-based corpus can pre-split
    and pass one line per row). Measures

    - ``n_segments``
    - ``dup_segment_frac`` — fraction of segments that are repeats of
      an earlier one (1 - distinct/total)
    - ``dup_char_frac`` — fraction of characters living in segments
      that occur more than once (all occurrences counted)

    Heavily repetitive documents (boilerplate, scraped nav bars,
    degenerate generations) score high and get filtered before
    training. Pure native expressions — the nested lambda for
    ``dup_char_frac`` is O(segments²) per row, bounded by document
    segment counts, still narrow/map-side (no shuffle, no UDF).
    """
    k = seg_tokens
    chunks = lambda t: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.ceil(F.size(t) / k).cast("int") - 1),
        lambda i: F.array_join(F.slice(t, i * k + 1, k), " "),
    )
    b = bind(
        scale_out(df.select("doc_id", text_col)),
        "_segs",
        chunks(tokens(F.col(text_col))),
    )
    segs = F.col("_segs")
    n = F.size(segs)
    n_distinct = F.size(F.array_distinct(segs))
    total_chars = F.aggregate(
        segs, F.lit(0), lambda acc, s: acc + F.length(s)
    )
    dup_chars = F.aggregate(
        F.filter(
            segs,
            lambda s: F.size(F.filter(segs, lambda x: x == s)) > 1,
        ),
        F.lit(0),
        lambda acc, s: acc + F.length(s),
    )
    denom_n = F.greatest(n, F.lit(1))
    denom_c = F.greatest(total_chars, F.lit(1))
    return b.select(
        "doc_id",
        n.cast("int").alias("n_segments"),
        F.round((n - n_distinct).cast("double") / denom_n, 6).alias(
            "dup_segment_frac"
        ),
        F.round(dup_chars.cast("double") / denom_c, 6).alias("dup_char_frac"),
    )


# A GPT-2-style byte-pair pre-tokenizer pattern, restricted to the
# common subset of Java regex (Spark) and RE2 (DuckDB): no lookarounds,
# no unicode property classes. Contractions, space-prefixed word/number
# runs, punctuation runs, residual whitespace.
BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^A-Za-z0-9 \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+"
)


def token_count_bpe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer regex — the
    training-cost estimator (whitespace counts under-estimate typical
    BPE token counts; this pattern tracks them closely). Native
    ``regexp_extract_all``; map-side only."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    b = bind(scale_out(df.select("doc_id", text_col)), "_bt", toks)
    t = F.col("_bt")
    ws = F.size(tokens(F.col(text_col)))
    return b.select(
        "doc_id",
        F.size(t).cast("int").alias("n_bpe_tokens"),
        ws.cast("int").alias("n_ws_tokens"),
        F.round(F.size(t).cast("double") / F.greatest(ws, F.lit(1)), 6).alias(
            "bpe_per_word"
        ),
    )


def sql_token_count_bpe(table: str = "documents") -> str:
    """DuckDB twin of :func:`token_count_bpe`."""
    t = SQL_TOKENS.format(c="text")
    pat = BPE_PATTERN.replace("'", "''")
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len({t}) AS INTEGER) AS n_ws_tokens,
           round(len(regexp_extract_all(text, '{pat}'))::DOUBLE
                 / greatest(len({t}), 1), 6) AS bpe_per_word
    FROM {table}
    """


# A REAL trained BPE merge table (classic Sennrich-style training, run
# deterministically by tools/train_bpe.py over the sf0.01 fixture
# corpus; ties broken lexicographically). Merge #k's output symbol is
# chr(65+k) — uppercase cannot collide with the lowercase base
# alphabet, so every BPE unit stays exactly ONE character and merge
# application is plain ordered string replace() in any engine (replace
# is leftmost non-overlapping in both Spark and DuckDB, which is
# exactly BPE's merge-everywhere-by-rank rule: a merged symbol never
# recreates its own pair).
BPE_MERGES = (
    ("er", "A"), ("in", "B"), ("ow", "C"), ("or", "D"), ("st", "E"),
    ("mA", "F"), ("at", "G"), ("lu", "H"), ("ar", "I"), ("pI", "J"),
    ("jo", "K"), ("KB", "L"), ("as", "M"), ("Mh", "N"), ("hN", "O"),
    ("rC", "P"), ("Gc", "Q"), ("Qh", "R"), ("bR", "S"), ("an", "T"),
    ("cT", "U"), ("sU", "V"), ("Eo", "W"), ("Hm", "X"),
)


def token_count_bpe2(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting under REAL BPE merges (round 4): pretokenize with
    :data:`BPE_PATTERN`, then for each lowercase-letter run apply the
    trained :data:`BPE_MERGES` in rank order and count the remaining
    units; non-letter pretokens (digits, punctuation, whitespace runs,
    contraction suffixes) count as one unit each. The pretokenizer-only
    count (:func:`token_count_bpe`) drifts from true BPE counts because
    it never credits merges — this is the count a mixture-weighting
    pipeline actually wants. Pure HOF expressions, map-side only."""
    pretoks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    b = bind(scale_out(df.select("doc_id", text_col)), "_pt", pretoks)

    def unit_count(p: Column) -> Column:
        w = ascii_lower(F.regexp_replace(p, "^ ", ""))
        merged = w
        for pair, sym in BPE_MERGES:
            merged = F.replace(merged, F.lit(pair), F.lit(sym))
        return F.when(w.rlike("^[a-z]+$"), F.length(merged)).otherwise(F.lit(1))

    units = F.transform(F.col("_pt"), unit_count)
    n_bpe = F.aggregate(units, F.lit(0), lambda acc, x: acc + x)
    n_pre = F.size(F.col("_pt"))
    return b.select(
        "doc_id",
        n_bpe.cast("int").alias("n_bpe2_tokens"),
        n_pre.cast("int").alias("n_pretokens"),
        F.round(
            n_bpe.cast("double") / F.greatest(n_pre, F.lit(1)), 6
        ).alias("bpe2_per_pretoken"),
    )


def sql_token_count_bpe2(table: str = "documents") -> str:
    """DuckDB twin of :func:`token_count_bpe2` (same pretokenizer, same
    ordered merge replaces, same unit rule)."""
    pat = BPE_PATTERN.replace("'", "''")
    lw = SQL_ASCII_LOWER.format(c="regexp_replace(p, '^ ', '')")
    merged = lw
    for pair, sym in BPE_MERGES:
        merged = f"replace({merged}, '{pair}', '{sym}')"
    unit = (
        f"CASE WHEN regexp_full_match({lw}, '[a-z]+')"
        f" THEN length({merged}) ELSE 1 END"
    )
    return f"""
    WITH m AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '{pat}'), p -> {unit}) AS units,
             len(regexp_extract_all(text, '{pat}')) AS n_pre
      FROM {table}
    )
    SELECT doc_id,
           CAST(coalesce(list_sum(units), 0) AS INTEGER) AS n_bpe2_tokens,
           CAST(n_pre AS INTEGER) AS n_pretokens,
           round(coalesce(list_sum(units), 0)::DOUBLE / greatest(n_pre, 1), 6)
             AS bpe2_per_pretoken
    FROM m
    """


# PII scrubbing patterns — shared Java-regex/RE2 subset. Branch order is
# the alternation priority (position ties resolve email > url > phone,
# the lexer rule both engines implement as leftmost-first matching).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^ \t\n\r\f\x0B]+", "<URL>"),
    ("phone", r"\+?[0-9][0-9()\- \t]{6,}[0-9]", "<PHONE>"),
)

# One combined alternation: the text is scanned ONCE (lexer-style,
# leftmost match wins; at equal positions the branch order above wins —
# identical semantics in Java regex and RE2, both leftmost-first).
_PII_RX = "|".join(f"(?:{p})" for _, p, _ in PII_PATTERNS)


def _pii_tag(m: Column) -> Column:
    """Replacement token for one matched substring. Anchored full-match
    classification in branch order mirrors which alternation branch
    consumed the match (the branch languages are mutually exclusive on
    full strings: emails contain '@', URLs a scheme, phones neither)."""
    tag = F.lit(PII_PATTERNS[-1][2])
    for _, pat, repl in reversed(PII_PATTERNS[:-1]):
        tag = F.when(m.rlike(f"^(?:{pat})$"), F.lit(repl)).otherwise(tag)
    return tag


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, URLs, and phone-shaped runs; emit the scrubbed
    text plus per-category match counts (the audit columns a pipeline
    monitors for drift). Pure regexp expressions, map-side only.

    SINGLE-PASS (round 4): one combined-alternation scan splits the
    text into kept segments and matches, each match classified to its
    replacement token — previously three sequential ``regexp_replace``
    passes re-scanned the full text per category (the worst sf1 scan
    ratio in the suite), and their counts were order-dependent (an
    email inside a URL counted as both). Counts now report exactly
    what was scrubbed per branch.
    """
    t = F.col(text_col)
    b = bind(scale_out(df.select("doc_id", text_col)), "_parts", F.split(t, _PII_RX, -1))
    b = bind(
        b, "_tags",
        F.transform(F.regexp_extract_all(t, F.lit(_PII_RX), F.lit(0)), _pii_tag),
    )
    tags = F.col("_tags")
    counts = [
        F.size(F.filter(tags, lambda x: x == F.lit(repl)))
        .cast("int")
        .alias(f"n_{name}")
        for name, _, repl in PII_PATTERNS
    ]
    # parts has exactly len(tags)+1 elements (split keeps leading and
    # trailing empties), so pad tags with one '' and stitch pairwise.
    scrubbed = F.array_join(
        F.zip_with(
            F.col("_parts"),
            F.concat(tags, F.array(F.lit(""))),
            lambda p, g: F.concat(p, g),
        ),
        "",
    )
    return b.select("doc_id", *counts, scrubbed.alias("scrubbed_text"))


def sql_scrub_pii(table: str = "documents") -> str:
    """DuckDB twin of :func:`scrub_pii` (same combined alternation,
    same leftmost-first single pass, same branch classification)."""
    tag = f"'{PII_PATTERNS[-1][2]}'"
    for _, pat, repl in reversed(PII_PATTERNS[:-1]):
        tag = f"CASE WHEN regexp_full_match(x, '{pat}') THEN '{repl}' ELSE {tag} END"
    counts = ", ".join(
        f"CAST(len(list_filter(tags, x -> x = '{repl}')) AS INTEGER) AS n_{name}"
        for name, _, repl in PII_PATTERNS
    )
    return f"""
    WITH m AS (
      SELECT doc_id,
             str_split_regex(text, '{_PII_RX}') AS parts,
             list_transform(regexp_extract_all(text, '{_PII_RX}'), x -> {tag}) AS tags
      FROM {table}
    )
    SELECT doc_id, {counts},
           list_aggregate(
             list_transform(range(1, len(parts) + 1),
               i -> parts[i] || CASE WHEN i <= len(tags) THEN tags[i] ELSE '' END),
             'string_agg', '') AS scrubbed_text
    FROM m
    """


def _winnow_kernel(k: int, w: int):
    """Arrow-batched winnowing kernel: per normalized text, md5-hash
    every k-gram (C hashlib), sliding-window min via one numpy strided
    view, distinct via np.unique.

    JUSTIFIED UDF (same argument as similarity.sign_signature_udf):
    the expression formulation is two higher-order transforms per row —
    len(text) interpreted md5 invocations (each paying a fresh JVM
    MessageDigest) plus an O(len·w) slice/array_min pass, all outside
    whole-stage codegen. This was the suite's worst sf0.1→sf1 scale
    ratio three rounds running. Hash parity is exact, not approximate:
    the 28-bit fingerprint is the first 7 hex chars of md5 == the first
    28 bits of the digest, integer math both sides."""

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            fps: list = []
            for doc_id, t in zip(pdf["doc_id"].values, pdf["_n"].values):
                if t is None:
                    continue
                n_grams = max(len(t) - k + 1, 1)
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            md5(t[i : i + k].encode("utf-8")).digest()[:4],
                            "big",
                        )
                        >> 4
                        for i in range(n_grams)
                    ),
                    dtype=np.int64,
                    count=n_grams,
                )
                if n_grams >= w:
                    mins = sliding_window_view(hs, w).min(axis=1)
                else:
                    mins = hs.min(keepdims=True)
                u = np.unique(mins)
                ids.append(np.full(len(u), doc_id, dtype=np.int64))
                fps.append(u)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids) if ids else
                    np.array([], dtype=np.int64),
                    "fp": np.concatenate(fps) if fps else
                    np.array([], dtype=np.int64),
                }
            )

    return gen


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (the
    MOSS/local-minima scheme): hash every ``k``-char gram of the
    normalized text, slide a ``w``-hash window, keep each window's
    minimum, emit the distinct selected hashes one per row. Two
    documents sharing any run of ``w + k - 1`` characters are
    guaranteed to share a fingerprint — the substring-overlap detector
    that whole-document md5 (:func:`fingerprint`) cannot provide.

    Hashes are md5-prefix 28-bit ints (engine-portable, like the
    sampling buckets). Normalization is a native Column expression;
    grams and window minima are computed in the Arrow-batched kernel
    (narrow, no shuffle), hash-identical to the DuckDB twin
    :func:`sql_winnow_fingerprints`."""
    norm = ascii_lower(F.regexp_replace(F.trim(F.col(text_col)), WS, " "))
    b = scale_out(df.select("doc_id", text_col)).select(
        "doc_id", norm.alias("_n")
    )
    return b.mapInPandas(_winnow_kernel(k, w), "doc_id long, fp long")


def sql_winnow_fingerprints(
    table: str = "documents", k: int = 8, w: int = 4
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    return f"""
    WITH n AS (
      SELECT doc_id,
             translate(regexp_replace(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS t
      FROM {table}
    ), h AS (
      SELECT doc_id,
             list_transform(
               list_transform(range(1, greatest(length(t) - {k - 1}, 1) + 1),
                              i -> substr(t, i, {k})),
               g -> CAST('0x' || substr(md5(g), 1, 7) AS BIGINT)) AS hs
      FROM n
    )
    SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, greatest(len(hs) - {w - 1}, 1) + 1),
                            j -> list_min(hs[j : j + {w - 1}])))) AS fp
    FROM h
    """


def sql_repetition_stats(table: str = "documents", seg_tokens: int = 5) -> str:
    """DuckDB twin of :func:`repetition_stats`."""
    k = seg_tokens
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS t FROM {table}
    ), b AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(t) / {k}.0) AS INTEGER)),
                            i -> array_to_string(t[i * {k} + 1 : i * {k} + {k}], ' '))
               AS segs
      FROM toks
    ), m AS (
      SELECT doc_id,
             len(segs) AS n,
             len(list_distinct(segs)) AS n_distinct,
             list_sum(list_transform(segs, s -> length(s))) AS total_chars,
             list_sum(list_transform(
               list_filter(segs, s -> len(list_filter(segs, x -> x = s)) > 1),
               s -> length(s))) AS dup_chars
      FROM b
    )
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_segments,
           round((n - n_distinct)::DOUBLE / greatest(n, 1), 6) AS dup_segment_frac,
           round(coalesce(dup_chars, 0)::DOUBLE / greatest(total_chars, 1), 6)
             AS dup_char_frac
    FROM m
    """


# SQL twins -----------------------------------------------------------------

SQL_TOKENS = "regexp_split_to_array(trim({c}, ' '), '[ \\t\\n\\r\\f\\x0B]+')"
SQL_TOKENS_LOWER = "regexp_split_to_array(trim(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\r\\f\\x0B]+')"


def sql_token_count(table: str = "documents") -> str:
    t = SQL_TOKENS.format(c="text")
    return f"""
    SELECT doc_id,
           CAST(len({t}) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_computed,
           CAST(len(list_distinct({t})) AS INTEGER) AS n_unique_tokens
    FROM {table}
    """


def sql_quality_score(table: str = "documents") -> str:
    t = SQL_TOKENS.format(c="text")
    stop = "', '".join(STOPWORDS_EN)
    return f"""
    WITH b AS (
      SELECT doc_id, {t} AS toks, length(text) AS n_chars FROM {table}
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> x IN ('{stop}'))) AS stop_hits,
             len(list_distinct(toks)) AS uniq,
             n_chars
      FROM b
    )
    SELECT doc_id,
           CAST(n_tok AS INTEGER) AS n_tokens,
           round((n_chars - (n_tok - 1))::DOUBLE / n_tok, 6) AS mean_word_len,
           round(stop_hits::DOUBLE / n_tok, 6) AS stopword_ratio,
           round(uniq::DOUBLE / n_tok, 6) AS type_token_ratio,
           CAST(round(
               CAST(least(n_tok::DOUBLE / 64.0, 1.0) AS DECIMAL(12,6)) * CAST(0.4 AS DECIMAL(2,1))
               + CAST(round(stop_hits::DOUBLE / n_tok, 6) AS DECIMAL(12,6)) * CAST(0.3 AS DECIMAL(2,1))
               + CAST(round(uniq::DOUBLE / n_tok, 6) AS DECIMAL(12,6)) * CAST(0.3 AS DECIMAL(2,1)),
               6) AS DOUBLE) AS quality_score
    FROM m
    """


def sql_fingerprint(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           md5(translate(regexp_replace(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint
    FROM {table}
    """


# -- Bigram LM familiarity (CCNet-style quality signal) ----------------------

def lm_familiarity(
    df: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Language-model quality scoring in the CCNet mold: train a word
    bigram model on a reference corpus, score every document by how
    familiar its token transitions are, filter/bucket on the score.

    CCNet uses KenLM perplexity; ``exp``/``ln`` are NOT bit-identical
    across engines (libm is not correctly rounded), so this operator
    scores the *mean smoothed transition probability* instead — a
    monotone stand-in for per-token probability computed entirely in
    exact integer fixed point:

        fam(w_{i-1}, w_i) = (c2 + 1) * 1e6  div  (c1 + V)
        lm_score = (sum(fam) div n_bigrams) / 1e6

    where ``c2`` is the bigram count, ``c1`` the unigram count of the
    prefix, ``V`` the vocabulary size (add-one smoothing). Every
    intermediate is a BIGINT, so any engine reproduces the hash — the
    same fixed-point discipline as the IVF Lloyd means.

    ``model_df`` defaults to training on ``df`` itself (self-scoring,
    the common dedup-then-score pipeline order); pass a separate
    reference corpus for CCNet's "score web text against Wikipedia"
    posture.

    100 TB shape: counting is two groupBy-word aggregates with map-side
    partial combine; the model (vocab + bigram tables) is
    vocabulary-sized, orders of magnitude smaller than the corpus, and
    rides broadcast joins — the corpus itself is never shuffled. V
    joins as a broadcast 1-row scalar, not a driver collect.
    """
    model_df = model_df if model_df is not None else df
    toks = lambda c: F.split(  # noqa: E731
        F.trim(ascii_lower(F.col(c))), WS
    )
    # Spark's sequence(2, stop) runs BACKWARDS ([2, 1]) when stop < 2,
    # where DuckDB's range(2, stop+1) is empty — guard short docs so a
    # 0/1-token document contributes no bigrams in either engine
    # (found by the hypothesis cross-engine suite, like the r3 trio).
    def _bigrams(t):
        idx = F.when(
            F.size(t) >= 2, F.sequence(F.lit(2), F.size(t))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(t, i - 1).alias("w_prev"),
                F.element_at(t, i).alias("w"),
            ),
        )

    b = bind(scale_out(df.select("doc_id", text_col)), "_t", toks(text_col))
    t = F.col("_t")
    doc_bg = b.select("doc_id", F.explode(_bigrams(t)).alias("g")).select(
        "doc_id", F.col("g.w_prev").alias("w_prev"), F.col("g.w").alias("w")
    )

    m = bind(
        scale_out(model_df.select(text_col)), "_t", toks(text_col)
    ).select(F.col("_t").alias("t"))
    uni = (
        m.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    mg = m.select(
        F.explode(_bigrams(F.col("t"))).alias("g")
    ).select("g.w_prev", "g.w")
    bi = mg.groupBy("w_prev", "w").agg(F.count("*").cast("long").alias("c2"))
    vocab = uni.agg(F.count("*").cast("long").alias("v"))

    scored = (
        doc_bg.join(F.broadcast(bi), ["w_prev", "w"], "left")
        .join(
            F.broadcast(uni.withColumnRenamed("w", "w_prev")),
            ["w_prev"],
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(
                "(coalesce(c2, 0L) + 1L) * 1000000L div (coalesce(c1, 0L) + v)"
            ).alias("fam"),
            F.when(F.col("c2").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.sum("oov").cast("int").alias("unseen_bigrams"),
        (
            F.expr("sum(fam) div count(*)") / F.lit(1000000.0)
        ).alias("lm_score"),
    )


def sql_lm_familiarity(
    table: str = "documents",
    score_pred: str = "TRUE",
    train_pred: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`lm_familiarity`: same lowercased
    tokenization, the same exact integer fixed-point arithmetic (`//`
    is DuckDB's integral floor-div, matching Spark's ``div`` on the
    all-positive operands). ``train_pred``/``score_pred`` carve the
    reference corpus and the scored slice (CCNet's train-on-Wikipedia,
    score-web-text posture)."""
    t = SQL_TOKENS_LOWER.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS t FROM {table} WHERE {score_pred}
    ), mtoks AS (
      SELECT {t} AS t FROM {table} WHERE {train_pred}
    ), doc_bg AS (
      SELECT doc_id, t[CAST(u.i - 1 AS INTEGER)] AS w_prev, t[CAST(u.i AS INTEGER)] AS w
      FROM toks, unnest(range(2, greatest(len(t), 1) + 1)) AS u(i)
    ), m_bg AS (
      SELECT t[CAST(u.i - 1 AS INTEGER)] AS w_prev, t[CAST(u.i AS INTEGER)] AS w
      FROM mtoks, unnest(range(2, greatest(len(t), 1) + 1)) AS u(i)
    ), uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w FROM mtoks) GROUP BY w
    ), bi AS (
      SELECT w_prev, w, CAST(count(*) AS BIGINT) AS c2
      FROM m_bg GROUP BY w_prev, w
    ), vocab AS (
      SELECT CAST(count(*) AS BIGINT) AS v FROM uni
    ), scored AS (
      SELECT d.doc_id,
             (coalesce(b.c2, 0) + 1) * 1000000 // (coalesce(u.c1, 0) + vocab.v)
               AS fam,
             CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS oov
      FROM doc_bg d
      LEFT JOIN bi b ON d.w_prev = b.w_prev AND d.w = b.w
      LEFT JOIN uni u ON d.w_prev = u.w
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_bigrams,
           CAST(sum(oov) AS INTEGER) AS unseen_bigrams,
           (sum(fam) // count(*)) / 1000000.0 AS lm_score
    FROM scored
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Text normalization — the canonicalization pass before exact/near
# dedup: two raw texts that differ only in case, accents (a defined
# Latin-1 table), punctuation spacing, or whitespace runs normalize to
# the same bytes, so exact dedup after normalize catches what raw
# exact dedup misses. Defined as an explicit character table + regex
# pipeline (NOT locale/unicode-library dependent), which is what makes
# it byte-reproducible across engines and releases.
# ---------------------------------------------------------------------------

_ACCENTS_SRC = "ÀÁÂÃÄÅàáâãäåÈÉÊËèéêëÌÍÎÏìíîïÒÓÔÕÖòóôõöÙÚÛÜùúûüÇçÑñÝýÿ"
_ACCENTS_DST = "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOoooooUUUUuuuuCcNnYyy"


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, norm): lowercase (ASCII), strip the defined Latin-1
    accent table, replace every non-alphanumeric run with one space,
    trim. One projection — no UDF, no shuffle; composes with
    dedup_exact so case/punctuation variants collapse."""
    c = F.col(text_col)
    c = F.translate(c, _ACCENTS_SRC, _ACCENTS_DST)
    c = ascii_lower(c)
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    c = F.trim(c)
    return df.select("doc_id", c.alias("norm"))


def sql_normalize_text(table: str = "documents") -> str:
    """DuckDB twin of :func:`normalize_text` — same table, same regex,
    same order of operations."""
    c = f"translate(text, '{_ACCENTS_SRC}', '{_ACCENTS_DST}')"
    c = SQL_ASCII_LOWER.format(c=c)
    c = f"trim(regexp_replace({c}, '[^a-z0-9]+', ' ', 'g'))"
    return f"SELECT doc_id, {c} AS norm FROM {table}"


# -- HTML/markup extraction (web-corpus text extraction stage) ---------------

# Order matters and is part of the contract: script/style bodies go
# first (their contents are not text), block-closing tags become
# spaces (so '</p><p>' doesn't glue words), remaining tags vanish,
# then the fixed entity table decodes, then whitespace collapses.
_MARKUP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?is)<!--.*?-->", " "),
    (r"(?i)</?(?:p|div|li|ul|ol|tr|td|th|table|h[1-6]|br|hr)\b[^>]*>", " "),
    (r"<[^>]+>", ""),
]
_MARKUP_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: so '&amp;lt;' decodes to '&lt;' not '<'
]


def strip_markup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_tags): the web-corpus extraction stage —
    drop script/style/comment bodies, turn block boundaries into
    spaces, remove remaining tags, decode the fixed entity table,
    collapse whitespace. ``n_tags`` counts tags seen in the raw text
    (a boilerplate-density signal quality filters use).

    Deliberately a fixed regex pipeline, not a DOM parse: the rule
    list IS the cross-engine contract (Java regex on Spark, RE2 on
    the oracle — the subset used here behaves identically), it runs
    as a narrow shuffle-free projection at 100 TB, and it degrades
    gracefully on the malformed HTML a web crawl actually contains.
    A DOM library would be a per-row Python UDF — the slow path —
    and still disagrees with itself on malformed input.
    """
    c = F.col(text_col)
    n_tags = F.size(F.regexp_extract_all(c, F.lit(r"<[^>]+>"), 0)).cast("int")
    out = c
    for pat, rep in _MARKUP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, rep in _MARKUP_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return df.select("doc_id", out.alias("clean_text"), n_tags.alias("n_tags"))


def sql_strip_markup(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of :func:`strip_markup` — same rule list, same
    order. ``text_expr`` lets the caller wrap the column (the fixture
    corpus is plain text, so the driver query synthesizes markup)."""
    c = text_expr
    n = f"CAST(len(regexp_extract_all({c}, '<[^>]+>')) AS INTEGER)"
    out = c
    for pat, rep in _MARKUP_STEPS:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    for ent, rep in _MARKUP_ENTITIES:
        r = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{r}')"
    out = f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"
    return (
        f"SELECT doc_id, {out} AS clean_text, {n} AS n_tags FROM {table}"
    )


# ---------------------------------------------------------------------------
# Distributed BPE merge training — the TRAINING side of the merge table
# that token_count_bpe2 applies (tools/train_bpe.py is the driver-side
# twin of this operator; both implement classic Sennrich-style BPE over
# the corpus's lowercase letter runs). The scalable shape is the
# textbook one: ONE corpus-wide shuffle compresses the corpus to a
# (word, count) vocabulary table, and every merge round after that
# touches only the vocabulary — at 100 TB the corpus is read once and
# the per-round work is bounded by vocabulary size, not corpus size.
# ---------------------------------------------------------------------------


def bpe_train(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """(merge_rank, pair, merged_symbol, pair_count): the first
    ``n_merges`` BPE merges learned from the corpus.

    Semantics pinned to tools/train_bpe.py (and therefore to the
    :data:`BPE_MERGES` table the apply path uses): words are the
    ``[a-z]+`` runs of the ascii-lowered text, weighted by occurrence
    count; each round merges the adjacent symbol pair with the highest
    corpus-weighted count (overlapping occurrences each count, e.g.
    "aaa" contributes ("a","a") twice); ties break to the
    lexicographically smallest pair; merge #k's output symbol is
    chr(65 + k), so every BPE unit stays exactly one character and
    merge application is plain leftmost non-overlapping replace() —
    identical in Python, Spark, and DuckDB.

    JUSTIFIED COLLECT: each round collects exactly ONE row (the argmax
    pair) — metadata-sized by construction, the same posture as
    PageRank's per-round convergence scalar. The vocabulary table is
    localCheckpoint()ed every round so round k's job re-reads the
    checkpointed vocab, not the corpus lineage (without this the
    driver loop is O(rounds^2) in recomputation).
    """
    words = (
        scale_out(df.select(text_col))
        .select(F.explode(F.split(ascii_lower(F.col(text_col)), "[^a-z]+")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    for k in range(n_merges):
        pairs = (
            words.where(F.length("w") >= 2)
            .select(
                F.explode(
                    F.expr("transform(sequence(1, length(w) - 1),"
                           " i -> substring(w, i, 2))")
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
        )
        top = pairs.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).collect()
        if not top:
            break
        pair, n = top[0]["pair"], int(top[0]["n"])
        sym = chr(65 + k)
        merges.append((k, pair, sym, n))
        words = (
            words.select(
                F.replace(F.col("w"), F.lit(pair), F.lit(sym)).alias("w"), "cnt"
            )
            .groupBy("w")
            .agg(F.sum("cnt").alias("cnt"))
            .localCheckpoint()
        )
    return spark.createDataFrame(
        merges, "merge_rank int, pair string, merged_symbol string, pair_count bigint"
    )


def sql_bpe_train(table: str = "documents", n_merges: int = 6) -> str:
    """DuckDB twin of :func:`bpe_train` — the merge loop unrolled as a
    generated CTE chain (one pair-count + argmax + vocabulary-rewrite
    block per round, the same shape as the unrolled PageRank oracle)."""
    lower = SQL_ASCII_LOWER.format(c="text")
    ctes = [
        f"""w0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex({lower}, '[^a-z]+')) AS w
        FROM {table}
      ) WHERE len(w) > 0 GROUP BY w
    )"""
    ]
    selects = []
    for k in range(n_merges):
        sym = chr(65 + k)
        ctes.append(f"""p{k} AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair,
             CAST(SUM(cnt) AS BIGINT) AS n
      FROM w{k}, unnest(range(1, len(w))) AS t(i)
      GROUP BY 1
    )""")
        ctes.append(f"""m{k} AS (
      SELECT pair, n FROM p{k} ORDER BY n DESC, pair LIMIT 1
    )""")
        ctes.append(f"""w{k + 1} AS (
      SELECT replace(w, (SELECT pair FROM m{k}), '{sym}') AS w,
             CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM w{k} GROUP BY 1
    )""")
        selects.append(
            f"SELECT {k} AS merge_rank, pair, '{sym}' AS merged_symbol,"
            f" n AS pair_count FROM m{k}"
        )
    union = "\n      UNION ALL ".join(selects)
    return f"""
    WITH {', '.join(ctes)}
    SELECT * FROM ({union}) ORDER BY merge_rank
    """
