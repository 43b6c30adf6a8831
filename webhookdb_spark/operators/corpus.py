"""Corpus-level filtering and profiling for training-data pipelines.

``corpus_filter`` is the C4/Gopher-style rule cascade (language
allowlist, source blocklist, length bounds, badword screen) expressed
as ONE narrow map over the corpus: every rule is a literal-array or
bound-range predicate, so the whole filter is shuffle-free and rides
whole-stage codegen at any scale — no dimension join is needed until
blocklists outgrow a broadcast literal (then swap the isin for a
broadcast anti-join, same semantics).

``length_stats`` is the corpus profile that drives those thresholds:
exact per-stratum token percentiles (Spark ``percentile`` and DuckDB
``quantile_cont`` both interpolate linearly at rank p*(n-1), so the
twin hashes match). One groupBy on the stratum — partial-agg friendly;
at 100 TB the percentile state is the per-group value list, so profile
on a hash-fraction sample when groups are corpus-sized (the same
``sample_fraction`` posture as IVF refinement).

Reference scope note: the Ruby reference (webhookdb) has no corpus
operators; this module is training-pipeline surface beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webhookdb_spark.operators.text import SQL_TOKENS, WS
from webhookdb_spark.operators.util import bind, scale_out, sql_str_list, sql_str_lit
from webhookdb_spark.storage import read_json, write_atomic

DEFAULT_LANGS = ("en", "de", "fr", "es")
DEFAULT_BLOCKED_SOURCES = ("src13", "src17")
DEFAULT_BADWORDS = ("dup",)


def corpus_filter(
    df: DataFrame,
    langs: tuple[str, ...] = DEFAULT_LANGS,
    blocked_sources: tuple[str, ...] = DEFAULT_BLOCKED_SOURCES,
    badwords: tuple[str, ...] = DEFAULT_BADWORDS,
    min_tokens: int = 12,
    max_tokens: int = 90,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, keep, reason): first-failing-rule verdict per
    document. The cascade order (lang -> source -> length -> badword)
    is part of the contract so the reason column is deterministic."""
    b = bind(
        scale_out(df.select("doc_id", "lang", "source", text_col)),
        "_t",
        F.split(F.trim(F.col(text_col)), WS),
    )
    n_tok = F.size("_t")
    reason = (
        F.when(~F.col("lang").isin(*langs), F.lit("lang"))
        .when(F.col("source").isin(*blocked_sources), F.lit("source"))
        .when(n_tok < min_tokens, F.lit("too_short"))
        .when(n_tok > max_tokens, F.lit("too_long"))
        .when(
            F.arrays_overlap("_t", F.array(*[F.lit(w) for w in badwords])),
            F.lit("badword"),
        )
        .otherwise(F.lit("kept"))
    )
    return b.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        (reason == "kept").alias("keep"),
        reason.alias("reason"),
    )


def corpus_filter_joined(
    df: DataFrame,
    langs_df: DataFrame,
    blocked_sources_df: DataFrame,
    badwords_df: DataFrame,
    min_tokens: int = 12,
    max_tokens: int = 90,
    text_col: str = "text",
) -> DataFrame:
    """:func:`corpus_filter` with DataFrame rule tables instead of
    literal tuples — the form the module docstring promises for when a
    blocklist outgrows a broadcast literal (a production badword or
    domain blocklist is a maintained table of 10^5-10^7 entries, far
    past ``isin`` codegen limits). Identical cascade semantics and
    output.

    Shape: allow/block membership becomes broadcast semi-join FLAGS
    (the rule tables broadcast; the corpus never shuffles); the
    badword test explodes the doc's DISTINCT tokens, broadcast-joins
    the badword table, and aggregates a per-doc hit bit — at most one
    row per (doc, matched badword) moves, and only for docs containing
    some badword. Expected columns: ``langs_df(lang)``,
    ``blocked_sources_df(source)``, ``badwords_df(word)``."""
    b = bind(
        scale_out(df.select("doc_id", "lang", "source", text_col)),
        "_t",
        F.split(F.trim(F.col(text_col)), WS),
    )
    lang_ok = F.broadcast(langs_df.select(F.col("lang").alias("_lv"))
                          .distinct())
    src_bad = F.broadcast(
        blocked_sources_df.select(F.col("source").alias("_sv")).distinct()
    )
    words = F.broadcast(badwords_df.select(F.col("word").alias("_w"))
                        .distinct())
    flagged = (
        b.join(lang_ok, F.col("lang") == F.col("_lv"), "left")
        .join(src_bad, F.col("source") == F.col("_sv"), "left")
        .withColumn("_lang_ok", F.col("_lv").isNotNull())
        .withColumn("_src_blocked", F.col("_sv").isNotNull())
        .drop("_lv", "_sv")
    )
    hits = (
        b.select("doc_id", F.explode(F.array_distinct("_t")).alias("_tok"))
        .join(words, F.col("_tok") == F.col("_w"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("_has_badword", F.lit(True))
    )
    n_tok = F.size("_t")
    out = flagged.join(hits, "doc_id", "left")
    reason = (
        # NULL-lang parity with corpus_filter: there ``~isin(...)`` is
        # NULL for a NULL lang, so the branch is skipped and the doc
        # falls through to the later rules — the semi-join flag alone
        # would instead reject it with reason 'lang'.
        F.when(F.col("lang").isNotNull() & ~F.col("_lang_ok"), F.lit("lang"))
        .when(F.col("_src_blocked"), F.lit("source"))
        .when(n_tok < min_tokens, F.lit("too_short"))
        .when(n_tok > max_tokens, F.lit("too_long"))
        .when(F.coalesce("_has_badword", F.lit(False)), F.lit("badword"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        (reason == "kept").alias("keep"),
        reason.alias("reason"),
    )


def sql_corpus_filter(
    table: str = "documents",
    langs: tuple[str, ...] = DEFAULT_LANGS,
    blocked_sources: tuple[str, ...] = DEFAULT_BLOCKED_SOURCES,
    badwords: tuple[str, ...] = DEFAULT_BADWORDS,
    min_tokens: int = 12,
    max_tokens: int = 90,
) -> str:
    """DuckDB twin of :func:`corpus_filter`."""
    t = SQL_TOKENS.format(c="text")
    langs_sql = sql_str_list(langs)
    src_sql = sql_str_list(blocked_sources)
    bad_sql = sql_str_list(badwords)
    return f"""
    WITH b AS (
      SELECT doc_id, lang, source, {t} AS t FROM {table}
    ), v AS (
      SELECT doc_id, len(t) AS n_tok,
             CASE
               WHEN lang NOT IN ({langs_sql}) THEN 'lang'
               WHEN source IN ({src_sql}) THEN 'source'
               WHEN len(t) < {min_tokens} THEN 'too_short'
               WHEN len(t) > {max_tokens} THEN 'too_long'
               WHEN list_has_any(t, [{bad_sql}]) THEN 'badword'
               ELSE 'kept'
             END AS reason
      FROM b
    )
    SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tokens,
           reason = 'kept' AS keep, reason
    FROM v
    """


PCTS = (0.25, 0.5, 0.75, 0.9)


def length_stats(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum token-length profile: doc count, exact interpolated
    percentiles, mean, max. Drives min/max_tokens choices and mixture
    weighting; also the quickest skew check before a corpus-wide run."""
    b = bind(
        scale_out(df.select(strata_col, text_col)),
        "_n",
        F.size(F.split(F.trim(F.col(text_col)), WS)).cast("double"),
    )
    aggs = [F.count("*").cast("int").alias("n_docs")]
    for p in PCTS:
        aggs.append(
            F.round(F.percentile(F.col("_n"), F.lit(p)), 6).alias(
                f"p{int(p * 100)}"
            )
        )
    aggs.append(F.round(F.avg("_n"), 6).alias("mean_tokens"))
    aggs.append(F.max("_n").cast("int").alias("max_tokens"))
    return b.groupBy(strata_col).agg(*aggs)


def sql_length_stats(
    table: str = "documents", strata_col: str = "lang"
) -> str:
    """DuckDB twin of :func:`length_stats` (``quantile_cont`` is the
    same rank-p*(n-1) linear interpolation as Spark ``percentile``)."""
    t = SQL_TOKENS.format(c="text")
    pct_cols = ",\n           ".join(
        f"round(quantile_cont(n, {p}), 6) AS p{int(p * 100)}" for p in PCTS
    )
    return f"""
    WITH b AS (
      SELECT {strata_col}, CAST(len({t}) AS DOUBLE) AS n FROM {table}
    )
    SELECT {strata_col},
           CAST(count(*) AS INTEGER) AS n_docs,
           {pct_cols},
           round(avg(n), 6) AS mean_tokens,
           CAST(max(n) AS INTEGER) AS max_tokens
    FROM b
    GROUP BY {strata_col}
    """


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(token, df_count, postings): the classic inverted index as a
    table — distinct tokens per document, one groupBy on the token,
    postings kept sorted and emitted as a ','-joined string so the
    result is flat-scalar (hashable by any downstream canonicalizer
    that sorts rows, e.g. a pandas comparator). At 100 TB the
    postings column for a stop-word-grade token is the skew case — use
    :func:`inverted_index_bucketed` there: document-partitioned shards
    with a hard per-row postings cap, df recovered from narrow columns.
    This flat form materializes whole-token postings and is only for
    bounded vocabularies; the query path (:func:`search_all_terms`)
    never reads them either way."""
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), WS))
    posting = (
        bind(scale_out(df.select("doc_id", text_col)), "_t", toks)
        .select("doc_id", F.explode("_t").alias("token"))
    )
    return posting.groupBy("token").agg(
        F.count("*").cast("int").alias("df_count"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


def inverted_index_bucketed(
    df: DataFrame,
    text_col: str = "text",
    n_shards: int = 8,
    postings_per_row: int = 64,
) -> DataFrame:
    """(token, shard, chunk, n_postings, postings): the posting store
    the :func:`inverted_index` docstring promises for 100 TB — no row
    ever materializes a whole token's postings.

    Document-partitioned sharding (how distributed inverted files are
    actually laid out): ``shard`` is a portable hash of the doc id mod
    ``n_shards``, so a stop-word-grade token's postings split across
    ``n_shards`` independent tasks BEFORE any per-token work; within a
    (token, shard) the postings chunk into rows of at most
    ``postings_per_row`` doc ids — a HARD cap enforced by row_number
    arithmetic, not an expected-size hash bound. The chunking window
    partitions on (token, shard), never on token alone and never
    globally, so the hot token costs |postings| / n_shards per task; at
    100 TB pick n_shards ~ the document partition count and the window
    is per-input-split work.

    The query path never reads ``postings``: per-token document
    frequency is ``sum(n_postings)`` over the narrow columns (see
    :func:`token_df_from_index`), and term lookups touch only the
    (token, shard, chunk) rows for the queried tokens.
    """
    from webhookdb_spark.operators.sampling import _bucket28

    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), WS))
    posting = (
        bind(scale_out(df.select("doc_id", text_col)), "_t", toks)
        .select("doc_id", F.explode("_t").alias("token"))
        .withColumn(
            "shard",
            (_bucket28(F.col("doc_id"), "ii:") % n_shards).cast("int"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("token", "shard").orderBy("doc_id")
    chunked = posting.withColumn(
        "chunk",
        F.floor((F.row_number().over(w) - 1) / postings_per_row).cast("int"),
    )
    return chunked.groupBy("token", "shard", "chunk").agg(
        F.count("*").cast("int").alias("n_postings"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


def token_df_from_index(index: DataFrame) -> DataFrame:
    """(token, df_count) from a bucketed posting store — reads only the
    narrow ``n_postings`` column, never a postings string; this is the
    aggregate a query planner consults before deciding which chunks to
    fetch."""
    return index.groupBy("token").agg(
        F.sum("n_postings").cast("int").alias("df_count")
    )


def sql_inverted_index_bucketed(
    table: str = "documents",
    n_shards: int = 8,
    postings_per_row: int = 64,
) -> str:
    """DuckDB twin of :func:`inverted_index_bucketed` — same portable
    doc-id hash, same row_number chunk arithmetic."""
    from webhookdb_spark.operators.sampling import _sql_bucket28

    t = SQL_TOKENS.format(c="text")
    h = _sql_bucket28("doc_id", "ii:")
    return f"""
    WITH p AS (
      SELECT DISTINCT doc_id, unnest(list_distinct({t})) AS token FROM {table}
    ), s AS (
      SELECT token, doc_id, CAST(({h}) % {n_shards} AS INTEGER) AS shard
      FROM p
    ), c AS (
      SELECT token, shard, doc_id,
             CAST(floor((row_number() OVER (
               PARTITION BY token, shard ORDER BY doc_id) - 1)
               / {postings_per_row}) AS INTEGER) AS chunk
      FROM s
    )
    SELECT token, shard, chunk,
           CAST(count(*) AS INTEGER) AS n_postings,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM c GROUP BY token, shard, chunk
    """


def search_all_terms(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
) -> DataFrame:
    """Documents containing ALL ``terms`` (conjunctive boolean search),
    as (doc_id, n_terms_matched). The distributed shape is
    count-matching: explode distinct doc tokens, semi-restrict to the
    query terms (a literal isin — map-side), group by doc and keep
    docs matching every term. No posting-list intersection materializes
    driver-side, and the (doc, term) stream is pre-shrunk by the isin
    filter to |terms| rows per doc max."""
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), WS))
    hits = (
        bind(scale_out(df.select("doc_id", text_col)), "_t", toks)
        .select("doc_id", F.explode("_t").alias("token"))
        .where(F.col("token").isin(*terms))
    )
    n = len(set(terms))
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_terms_matched"))
        .where(F.col("n_terms_matched") == n)
    )


def sql_inverted_index(table: str = "documents") -> str:
    """DuckDB twin of :func:`inverted_index` (postings compared as the
    sorted ','-joined string)."""
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH p AS (
      SELECT DISTINCT doc_id, unnest(list_distinct({t})) AS token FROM {table}
    )
    SELECT token, CAST(count(*) AS INTEGER) AS df_count,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM p GROUP BY token
    """


def sql_search_all_terms(
    table: str = "documents", terms: tuple[str, ...] = ("spark", "merge", "window")
) -> str:
    """DuckDB twin of :func:`search_all_terms`."""
    t = SQL_TOKENS.format(c="text")
    terms_sql = sql_str_list(sorted(set(terms)))
    n = len(set(terms))
    return f"""
    WITH p AS (
      SELECT DISTINCT doc_id, unnest(list_distinct({t})) AS token FROM {table}
    )
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_matched
    FROM p WHERE token IN ({terms_sql})
    GROUP BY doc_id HAVING count(*) = {n}
    """


def search_ranked(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """TF-IDF-style ranked retrieval (disjunctive): score every doc
    containing any query term by ``sum over matched terms of
    tf * idf_proxy`` where ``idf_proxy = N * 1e6 div df`` — rarer terms
    weigh more, exactly the IDF ordering, computed entirely in BIGINT
    arithmetic because ``log``-based BM25/IDF is not bit-reproducible
    across engines (libm), and a retrieval stage that cannot be
    oracle-verified is a silent-corruption risk in a pipeline.

    Shape: term df-counts come from one aggregate over the (doc, term)
    stream pre-shrunk by the literal ``isin`` (map-side); the per-doc
    score is a second small aggregate; top-k rides the usual
    deterministic window. ``N`` joins as a broadcast 1-row scalar.
    """
    term_list = sorted(set(terms))
    toks = F.split(F.trim(F.col(text_col)), WS)
    hits = (
        bind(scale_out(df.select("doc_id", text_col)), "_t", toks)
        .select("doc_id", F.explode("_t").alias("token"))
        .where(F.col("token").isin(*term_list))
    )
    n_docs = df.select(F.count("*").cast("long").alias("n")).alias("nd")
    dfreq = (
        hits.select("doc_id", "token").distinct()
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    tf = hits.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("tf * (n * 1000000L div df)")).alias("score"),
            F.count("*").cast("int").alias("n_terms_matched"),
        )
    )
    # top-k via orderBy+limit -> TakeOrderedAndProject (per-task local
    # top-k, no global sort); ranking the <= k survivors afterwards is a
    # k-row window, not a corpus-wide one
    from pyspark.sql.window import Window

    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "score", "n_terms_matched",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def sql_search_ranked(
    table: str = "documents",
    terms: tuple[str, ...] = ("spark", "merge", "window"),
    k: int = 10,
) -> str:
    """DuckDB twin of :func:`search_ranked` — same integer idf-proxy,
    same tie-breaks."""
    t = SQL_TOKENS.format(c="text")
    terms_sql = sql_str_list(sorted(set(terms)))
    return f"""
    WITH hits AS (
      SELECT doc_id, unnest({t}) AS token FROM {table}
    ), q AS (
      SELECT doc_id, token FROM hits WHERE token IN ({terms_sql})
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM {table}
    ), dfreq AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM q GROUP BY token
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM q GROUP BY doc_id, token
    ), scored AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf * (nd.n * 1000000 // dfreq.df)) AS BIGINT) AS score,
             CAST(count(*) AS INTEGER) AS n_terms_matched
      FROM tf JOIN dfreq USING (token) CROSS JOIN nd
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_terms_matched, rank FROM (
      SELECT doc_id, score, n_terms_matched,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 200,
    train_pred: str = "doc_id % 5 != 0",
    score_pred: str = "doc_id % 5 = 0",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer/vocabulary fitness check for a training pipeline:
    build the top-``vocab_size`` word vocabulary from the train split,
    then measure each held-out document's out-of-vocabulary rate —
    (doc_id, n_tokens, n_oov, oov_rate).

    Distributed shape: the vocabulary is a groupBy-count over train
    tokens cut to a deterministic top-K (count desc, token asc — ties
    at the boundary cannot flip membership between engines), which is
    metadata-sized by construction and BROADCAST into the held-out
    token stream; the per-doc OOV tally is then one map-side-combinable
    aggregate. The corpus is never shuffled — only its exploded token
    stream groups by token (train) and doc_id (held-out), both narrow
    integer/short-string keys. ``oov_rate`` is quantized midpoint-free
    (floor(x*1e6)/1e6) so the double division can't round differently
    across engines."""
    toks = F.split(F.trim(F.col(text_col)), WS)
    train = df.where(train_pred)
    vocab = (
        bind(scale_out(train.select(text_col)), "_t", toks)
        .select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("_inv"))
    )
    held = (
        bind(scale_out(df.where(score_pred).select("doc_id", text_col)), "_t", toks)
        .select("doc_id", F.explode("_t").alias("tok"))
        .join(F.broadcast(vocab), on="tok", how="left")
    )
    agg = held.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    rate = F.floor(
        F.col("n_oov") / F.col("n_tokens") * F.lit(1e6)
    ) / F.lit(1e6)
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        rate.alias("oov_rate"),
    )


def sql_vocab_coverage(
    table: str = "documents",
    vocab_size: int = 200,
    train_pred: str = "doc_id % 5 != 0",
    score_pred: str = "doc_id % 5 = 0",
) -> str:
    """DuckDB twin of :func:`vocab_coverage` (same tokenization, same
    deterministic top-K cut, same floor-quantized rate)."""
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH tr AS (
      SELECT unnest({t}) AS tok FROM {table} WHERE {train_pred}
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM tr GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT {vocab_size}
      )
    ), held AS (
      SELECT doc_id, unnest({t}) AS tok FROM {table} WHERE {score_pred}
    )
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           floor(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS BIGINT) * 1e6) / 1e6 AS oov_rate
    FROM held h LEFT JOIN vocab v ON h.tok = v.tok
    GROUP BY h.doc_id
    """


# ---------------------------------------------------------------------------
# Persisted inverted index — the on-disk, appendable form of
# inverted_index_bucketed (the retrieval analog of similarity.py's
# persisted LSH/IVF indexes). Reference surface: the read-only SQL
# retrieval the reference gives users over replicated tables
# (lib/webhookdb/organization.rb:146-164); the layout itself is the
# standard segmented inverted file (Lucene's model): every append is an
# immutable segment — O(batch) work, existing data untouched — queries
# read all segments, and compaction restores the exact one-shot layout.
# ---------------------------------------------------------------------------

_II_META = "_ii_meta.json"


def _ii_write_segment(idx: DataFrame, seg_dir) -> None:
    # One dir per shard; rows sorted by (token, chunk) within the shard
    # so every parquet file's token min/max stats are narrow and a term
    # lookup's pushed-down isin skips non-matching files outright.
    (
        idx.repartition(F.col("shard"))
        .sortWithinPartitions("shard", "token", "chunk")
        .write.partitionBy("shard")
        .mode("overwrite")
        # segment dirs are written fresh; skip the dynamic-overwrite
        # commit path
        .option("partitionOverwriteMode", "static")
        .parquet(str(seg_dir))
    )


def write_inverted_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    n_shards: int = 8,
    postings_per_row: int = 64,
) -> None:
    """Materialize :func:`inverted_index_bucketed` on disk as segment 0.

    Layout: ``<path>/seg_0/shard=<s>/*.parquet`` + a ``_ii_meta.json``
    sidecar recording the knobs, the exact read schema (partition-type
    inference would turn shard into whatever it guesses — see
    write_lsh_index), the doc-id type (postings store doc ids as
    strings; queries cast back), and the live segment list. At 100 TB
    each (token, shard) row is hard-capped at ``postings_per_row`` doc
    ids and a hot token's rows spread over ``n_shards`` dirs, so no
    task or row ever materializes a whole stop-word posting list."""
    import json as _json
    from pathlib import Path as _P

    root = _P(path)
    idx = inverted_index_bucketed(df, text_col, n_shards, postings_per_row)
    _ii_write_segment(idx, root / "seg_0")
    read_schema = (
        idx.drop("shard").withColumn("shard", F.lit(0).cast("int")).schema
    )
    meta = {
        "n_shards": n_shards,
        "postings_per_row": postings_per_row,
        "schema": read_schema.json(),
        "doc_id_type": df.schema["doc_id"].dataType.json(),
        "text_col": text_col,
        "segments": ["seg_0"],
    }
    write_atomic(root / _II_META, _json.dumps(meta))


def append_inverted_index(df_new: DataFrame, path: str) -> None:
    """Add a batch of NEW documents to a persisted index as its own
    immutable segment (the Lucene/ES segment model): cost is O(batch) —
    tokenize, shard, chunk the new docs with the sidecar's knobs and
    write one more segment dir; existing segments are never read or
    rewritten, which is the operating mode a daily-ingest pipeline
    needs. Chunk ids are per-segment; :func:`read_inverted_index`
    renumbers them into one logical sequence and
    :func:`compact_inverted_index` restores the exact one-shot layout.
    Contract: a doc id appears in at most one segment (appends carry
    new docs, the same partitioning every segmented store requires).
    Single-writer, like ManagedTable's manifest."""
    import json as _json
    from pathlib import Path as _P

    root = _P(path)
    meta = read_json(root / _II_META)
    idx = inverted_index_bucketed(
        df_new, meta["text_col"], meta["n_shards"], meta["postings_per_row"]
    )
    seg = f"seg_{len(meta['segments'])}"
    _ii_write_segment(idx, root / seg)
    meta["segments"] = meta["segments"] + [seg]
    write_atomic(root / _II_META, _json.dumps(meta))


def _ii_read_segments(
    spark, path, tokens: tuple[str, ...] | None = None
) -> tuple[DataFrame, dict]:
    import json as _json
    from pathlib import Path as _P

    from pyspark.sql import types as _T

    root = _P(path)
    meta = read_json(root / _II_META)
    schema = _T.StructType.fromJson(_json.loads(meta["schema"]))
    parts = []
    for i, seg in enumerate(meta["segments"]):
        seg_df = spark.read.schema(schema).parquet(str(root / seg))
        if tokens is not None:
            # literal pushdown: the per-file (token) sort from the
            # segment write makes this skip whole files by stats.
            # (isin() with zero args raises — an empty term set means
            # an empty result, expressed as a foldable false.)
            seg_df = seg_df.where(
                F.col("token").isin(*tokens) if tokens else F.lit(False)
            )
        parts.append(seg_df.withColumn("_seg", F.lit(i)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, meta


def read_inverted_index(
    spark, path: str, tokens: tuple[str, ...] | None = None
) -> DataFrame:
    """Logical view of a persisted index: segments unioned with
    ``chunk`` renumbered per (token, shard) in (segment, chunk) order,
    so the row surface looks like one index regardless of how many
    appends built it. The renumber window runs on the NARROW columns
    of at most |postings|/postings_per_row rows per (token, shard) —
    never on exploded postings — and collapses to the queried tokens'
    rows when ``tokens`` is given."""
    from pyspark.sql.window import Window

    seg, _ = _ii_read_segments(spark, path, tokens)
    w = Window.partitionBy("token", "shard").orderBy("_seg", "chunk")
    return seg.withColumn(
        "chunk", (F.row_number().over(w) - 1).cast("int")
    ).drop("_seg")


def token_df_from_persisted(spark, path: str) -> DataFrame:
    """(token, df_count) from the persisted store — narrow columns
    only, summed across segments (chunk renumbering is irrelevant to
    the aggregate, so this skips the window entirely)."""
    seg, _ = _ii_read_segments(spark, path)
    return seg.groupBy("token").agg(
        F.sum("n_postings").cast("int").alias("df_count")
    )


def search_terms_from_index(
    spark, path: str, terms: tuple[str, ...]
) -> DataFrame:
    """Conjunctive search answered FROM the persisted store — same
    result surface as :func:`search_all_terms` (doc_id,
    n_terms_matched) but the scan touches only the queried tokens'
    chunk rows (pushed-down isin + per-file token sort), then explodes
    just those postings back to doc ids. countDistinct guards the
    doc-in-one-segment contract rather than assuming it."""
    from pyspark.sql import types as _T

    term_list = tuple(sorted(set(terms)))
    seg, meta = _ii_read_segments(spark, path, term_list)
    doc_t = _T._parse_datatype_json_string(meta["doc_id_type"])
    hits = seg.select(
        "token", F.explode(F.split("postings", ",")).alias("_doc")
    ).select("token", F.col("_doc").cast(doc_t).alias("doc_id"))
    n = len(term_list)
    return (
        hits.groupBy("doc_id")
        .agg(F.count_distinct("token").cast("int").alias("n_terms_matched"))
        .where(F.col("n_terms_matched") == n)
    )


def compact_inverted_index(spark, path: str) -> None:
    """Merge all segments into one whose rows are IDENTICAL to a
    one-shot :func:`write_inverted_index` over the union of every
    batch (proven by test): explode each chunk's postings back to
    (token, shard, doc_id), re-chunk by global doc order with the same
    row_number arithmetic, re-aggregate, write as a fresh segment and
    swap the sidecar's segment list to it alone. The shuffle is
    (token, shard)-keyed — the hot token is already sharded — and each
    group re-chunks |postings|/n_shards ids, the same bound as the
    original build. Single-writer, like ManagedTable's manifest."""
    import json as _json
    import shutil as _sh
    from pathlib import Path as _P

    from pyspark.sql.window import Window

    root = _P(path)
    seg, meta = _ii_read_segments(spark, path)
    posting = seg.select(
        "token", "shard",
        F.explode(F.split("postings", ",")).alias("_doc"),
    )
    cap = meta["postings_per_row"]
    # numeric doc ids must re-chunk in NUMERIC order (the build sorts
    # typed doc_id, not its string form)
    from pyspark.sql import types as _T

    doc_t = _T._parse_datatype_json_string(meta["doc_id_type"])
    typed = posting.withColumn("_docv", F.col("_doc").cast(doc_t))
    w = Window.partitionBy("token", "shard").orderBy("_docv")
    chunked = typed.withColumn(
        "chunk", F.floor((F.row_number().over(w) - 1) / cap).cast("int")
    )
    merged = chunked.groupBy("token", "shard", "chunk").agg(
        F.count("*").cast("int").alias("n_postings"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("_docv")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    new_seg = f"seg_c{len(meta['segments'])}"
    _ii_write_segment(merged, root / new_seg)
    old = meta["segments"]
    meta["segments"] = [new_seg]
    write_atomic(root / _II_META, _json.dumps(meta))
    for s in old:
        _sh.rmtree(root / s, ignore_errors=True)


# ---------------------------------------------------------------------------
# Document chunking — the splitter every pretraining / RAG pipeline
# runs between cleaning and packing: long documents become fixed-size
# token windows with overlap, short ones pass through whole.
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk): sliding windows of
    ``chunk_tokens`` whitespace tokens advancing by ``chunk_tokens -
    overlap``; the final window clamps at the document end (so it may
    be shorter, never empty), and a doc of <= chunk_tokens tokens
    yields exactly one chunk. n_chunks = max(1, ceil((n - overlap) /
    stride)) in INTEGER arithmetic (the floor((a+b-1)/b) form), so
    both engines cut identical boundaries.

    Shape: one bind of the token array, one explode of n_chunks ints,
    one slice per chunk — per-row work, no shuffle; at 100 TB this is
    a map-only pass whose output feeds :func:`sequence packing
    <webhookdb_spark.operators.sampling.sequence_pack>`."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    b = bind(
        scale_out(df.select("doc_id", text_col)),
        "_t",
        F.split(F.trim(F.col(text_col)), WS),
    )
    n = F.size("_t")
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n - F.lit(overlap) + F.lit(stride) - 1) / F.lit(stride)),
    ).cast("int")
    b = b.select(
        "doc_id", "_t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("_t"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return b.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk"),
    )


def sql_chunk_documents(
    table: str = "documents",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> str:
    """DuckDB twin of :func:`chunk_documents` — same integer boundary
    arithmetic, same clamped list slice."""
    stride = chunk_tokens - overlap
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS tk FROM {table}
    ), nc AS (
      SELECT doc_id, tk,
             greatest(1, CAST(floor((len(tk) - {overlap} + {stride} - 1)
                              / {stride}) AS INTEGER)) AS n_chunks
      FROM toks
    ), ex AS (
      SELECT doc_id, tk, CAST(unnest(range(n_chunks)) AS INTEGER) AS chunk_id
      FROM nc
    )
    SELECT doc_id, chunk_id,
           CAST(len(tk[(chunk_id * {stride} + 1):(chunk_id * {stride} + {chunk_tokens})]) AS INTEGER) AS n_tokens,
           array_to_string(tk[(chunk_id * {stride} + 1):(chunk_id * {stride} + {chunk_tokens})], ' ') AS chunk
    FROM ex
    """


def phrase_search(
    df: DataFrame,
    phrase: tuple[str, ...],
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_occurrences): documents containing the EXACT token
    phrase (terms adjacent, in order) — what conjunctive count-matching
    (:func:`search_all_terms`) cannot express. Distributed shape: the
    (doc, token, pos) stream is pre-shrunk by the literal ``isin`` to
    the phrase's terms ONLY (map-side; at most |phrase| rows per doc
    position), then each consecutive term pair joins on (doc_id,
    position+1) — k-1 co-partitioned equi-joins on doc-keyed keys,
    never a per-doc array rebuild."""
    terms = list(phrase)
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    toks = F.split(F.trim(F.col(text_col)), WS)
    hits = (
        bind(scale_out(df.select("doc_id", text_col)), "_t", toks)
        .select("doc_id", F.posexplode("_t").alias("pos", "token"))
        .where(F.col("token").isin(*sorted(set(terms))))
    )
    cur = (
        hits.where(F.col("token") == terms[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for i, term in enumerate(terms[1:], start=1):
        nxt = hits.where(F.col("token") == term).select(
            "doc_id", (F.col("pos") - i).alias(f"_m{i}")
        )
        cur = cur.join(
            nxt,
            (cur.doc_id == nxt.doc_id) & (F.col("p0") == F.col(f"_m{i}")),
        ).select(cur.doc_id, "p0")
    return cur.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_occurrences")
    )


def sql_phrase_search(
    phrase: tuple[str, ...],
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`phrase_search` — same positional
    adjacency joins."""
    terms = list(phrase)
    t = SQL_TOKENS.format(c="text")
    term_set = sql_str_list(sorted(set(terms)))
    joins = []
    for i, term in enumerate(terms[1:], start=1):
        joins.append(
            f"JOIN hits h{i} ON h{i}.doc_id = h0.doc_id"
            f" AND h{i}.token = {sql_str_lit(terms[i])}"
            f" AND h{i}.pos = h0.pos + {i}"
        )
    return f"""
    WITH p AS (
      SELECT doc_id, unnest({t}) AS token,
             generate_subscripts({t}, 1) - 1 AS pos
      FROM {table}
    ), hits AS (
      SELECT * FROM p WHERE token IN ({term_set})
    )
    SELECT h0.doc_id, CAST(count(*) AS INTEGER) AS n_occurrences
    FROM (SELECT doc_id, pos FROM hits
          WHERE token = {sql_str_lit(terms[0])}) h0
    {" ".join(joins)}
    GROUP BY h0.doc_id
    """


def search_bm25(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    k: int = 10,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
) -> DataFrame:
    """Okapi BM25 ranked retrieval — the real-world ranking function
    (Robertson et al., public literature), on top of the same
    isin-pre-shrunk (doc, term) stream as :func:`search_ranked`.
    search_ranked deliberately keeps its idf proxy in pure BIGINTs;
    BM25's log-idf and length normalization need doubles, so this
    operator applies the repo's long-scaling discipline instead: every
    per-term score term is computed in doubles FROM exact integer
    inputs (tf, df, N, |d|, avgdl as an exact-decimal mean), scaled by
    1e9 and floored to a LONG, so the per-doc sum is order-independent
    and the whole ranking hash-matches the DuckDB twin. k1/b arrive as
    rational tenths/hundredths (defaults 1.2 / 0.75).

    Shape: tf/df/length aggregates over the shrunk stream, avgdl and N
    as broadcast 1-row scalars, top-k via TakeOrderedAndProject.
    """
    term_list = sorted(set(terms))
    k1 = k1_tenths / 10.0
    b = b_hundredths / 100.0
    toks = F.split(F.trim(F.col(text_col)), WS)
    base = bind(scale_out(df.select("doc_id", text_col)), "_t", toks)
    doclen = base.select(
        "doc_id", F.size("_t").cast("long").alias("dl")
    )
    hits = base.select(
        "doc_id", F.explode("_t").alias("token")
    ).where(F.col("token").isin(*term_list))
    stats = doclen.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("dl").cast("string").try_cast("decimal(18,6)"))
        .cast("double")
        .alias("avgdl"),
    )
    dfreq = (
        hits.select("doc_id", "token").distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    tf = hits.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    joined = (
        tf.join(F.broadcast(dfreq), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    idf = F.log((nd - dfd + 0.5) / (dfd + 0.5) + 1.0)
    denom = tfd + k1 * (1.0 - b + b * dld / F.col("avgdl"))
    term_score = idf * tfd * (k1 + 1.0) / denom
    # round, not floor: idf rides on ln — a libm estimate whose last
    # ulp differs between the JVM and glibc — so term_score*1e9 can
    # straddle an integral boundary across engines (the mixture_plan
    # ulp class, r10); round maps both sides to the same long. The
    # downstream floor(_s9/1e3) is safe: identical longs through one
    # correctly-rounded division are bit-identical in any engine.
    scaled = F.round(term_score * F.lit(1e9), 0).cast("long")
    from pyspark.sql.window import Window

    scored = joined.groupBy("doc_id").agg(
        F.sum(scaled).alias("_s9"),
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
    )
    score6 = (F.floor(F.col("_s9") / F.lit(1e3)) / F.lit(1e6)).alias("score")
    top = (
        scored.select("doc_id", score6, "n_terms_matched")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "score", "n_terms_matched",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def sql_search_bm25(
    terms: tuple[str, ...],
    table: str = "documents",
    text_col: str = "text",
    k: int = 10,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
) -> str:
    """DuckDB twin of :func:`search_bm25` — identical exact-integer
    inputs, double term arithmetic, 1e9 long scaling, and tie-break."""
    k1 = k1_tenths / 10.0
    b = b_hundredths / 100.0
    terms_sql = sql_str_list(sorted(set(terms)))
    return f"""
    WITH base AS (
      SELECT doc_id, {SQL_TOKENS.format(c=text_col)} AS t FROM {table}
    ),
    doclen AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
    stats AS (
      SELECT count(*) AS n,
             CAST(avg(TRY_CAST(CAST(dl AS VARCHAR) AS DECIMAL(18,6)))
                  AS DOUBLE) AS avgdl
      FROM doclen
    ),
    hits AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(t) AS tok FROM base)
      WHERE tok IN ({terms_sql})
    ),
    dfreq AS (
      SELECT tok, count(*) AS df
      FROM (SELECT DISTINCT doc_id, tok FROM hits) GROUP BY tok
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits GROUP BY 1, 2),
    scored AS (
      SELECT doc_id,
             sum(CAST(round(
               ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * CAST(tf AS DOUBLE) * ({k1} + 1.0)
               / (CAST(tf AS DOUBLE)
                  + {k1} * (1.0 - {b} + {b} * CAST(dl AS DOUBLE) / avgdl))
               * 1e9, 0) AS BIGINT)) AS _s9,
             CAST(count(*) AS INTEGER) AS n_terms_matched
      FROM tf JOIN dfreq USING (tok) JOIN doclen USING (doc_id)
      CROSS JOIN stats
      GROUP BY doc_id
    ),
    top AS (
      SELECT doc_id, floor(_s9 / 1e3) / 1e6 AS score, n_terms_matched
      FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
    )
    SELECT doc_id, score, n_terms_matched,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS INTEGER) AS rank
    FROM top
    """


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance reweighting
# ---------------------------------------------------------------------------


def dsir_logweights(
    df: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) over hashed n-gram features: score every
    document by how target-like its token distribution is, so raw
    data can be resampled toward a target domain (here: the
    ``target_lang`` slice stands in for the target corpus).

    Features are word unigrams + bigrams hashed into ``n_buckets``
    via the cross-engine str2inthash; the importance weight is
    ``log p_target(f) - log p_raw(f)`` summed over a doc's feature
    counts, with add-one smoothing on bucket counts. To keep the
    score exact across engines the per-bucket log-ratio is quantized
    ONCE to integer micro-units (round at 1e-6 — ln is a libm
    estimate, so floor would flip at integral micro boundaries;
    ``n_buckets`` values total) and each document's score is then a
    pure integer sum — order-independent, no float-accumulation seam. Returns
    (doc_id, lang, logw_micro); feed it to
    :func:`webhookdb_spark.operators.sampling.weighted_sample` (rank
    by ``exp(logw_micro/1e6)``) for the resampling step.

    100 TB shape: one narrow gram explode → groupBy (doc_id, bucket)
    with map-side combine; bucket statistics are a second aggregate
    over that ALREADY-compressed table (≤ n_buckets rows per doc);
    the bucket→weight table is ``n_buckets`` rows broadcast back.
    Nothing driver-side, no all-corpus collect.
    """
    from webhookdb_spark.functions.converters import CONV_STR2HASH

    b = bind(
        scale_out(df.select("doc_id", "lang", text_col)),
        "_t",
        F.split(F.trim(F.col(text_col)), WS),
    )
    bigrams = F.when(
        F.size("_t") < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.concat(
                F.element_at("_t", i), F.lit(" "), F.element_at("_t", i + 1)
            ),
        )
    )
    grams = b.select(
        "doc_id", "lang",
        F.explode(F.concat(F.col("_t"), bigrams)).alias("_g"),
    )
    bucket = F.pmod(
        CONV_STR2HASH.spark(F.col("_g")).cast("long"), F.lit(n_buckets)
    )
    cnts = (
        grams.select("doc_id", "lang", bucket.alias("_b"))
        .groupBy("doc_id", "lang", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        # Two consumers (bucket statistics and the final per-doc join)
        # otherwise re-execute the explode+hash+groupBy subtree — the
        # query's whole CPU cost — because the stats branch sits under
        # a broadcast build where exchange reuse does not apply. Pin
        # the compressed table (<= n_buckets rows per doc); blocks are
        # freed when the RDD is GC'd (pagerank posture).
        .localCheckpoint(eager=True)
    )
    is_t = (F.col("lang") == target_lang).cast("long")
    bstats = cnts.groupBy("_b").agg(
        F.sum(F.col("_c") * is_t).alias("_nt"),
        F.sum("_c").alias("_nr"),
    )
    tot = bstats.agg(
        F.sum("_nt").alias("_T"), F.sum("_nr").alias("_R")
    )
    bw = bstats.crossJoin(F.broadcast(tot)).select(
        "_b",
        # round, not floor: the log-ratio difference rides on libm ln
        # (JVM vs glibc last-ulp), and floor flips at integral micro
        # boundaries (the mixture_plan ulp class, r10). The
        # equal-ratio case is exactly 0 in both engines either way
        # (ln of the same double twice), but unequal ratios near a
        # boundary need round's half-unit margin.
        F.round(
            F.lit(1e6)
            * (
                F.log((F.col("_nt") + 1) / (F.col("_T") + n_buckets))
                - F.log((F.col("_nr") + 1) / (F.col("_R") + n_buckets))
            ), 0
        ).cast("long").alias("_w"),
    )
    return (
        cnts.join(F.broadcast(bw), "_b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("_c") * F.col("_w")).cast("long").alias("logw_micro"))
    )


def sql_dsir_logweights(
    table: str = "documents",
    target_lang: str = "en",
    n_buckets: int = 128,
) -> str:
    """DuckDB twin of :func:`dsir_logweights` — same grams, same
    str2inthash buckets, same bucket-level micro quantization."""
    from webhookdb_spark.functions.converters import CONV_STR2HASH

    t = SQL_TOKENS.format(c="text")
    h = CONV_STR2HASH.sql("g")
    tl = sql_str_lit(target_lang)
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {t} AS tk FROM {table}
    ), grams AS (
      SELECT doc_id, lang, unnest(tk) AS g FROM toks
      UNION ALL
      SELECT doc_id, lang, tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i + 1 AS INTEGER)] AS g
      FROM (SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i FROM toks)
    ), cnts AS (
      SELECT doc_id, lang,
             ((({h}) % {n_buckets}) + {n_buckets}) % {n_buckets} AS b,
             count(*) AS c
      FROM grams GROUP BY 1, 2, 3
    ), bstats AS (
      SELECT b,
             sum(CASE WHEN lang = {tl} THEN c ELSE 0 END) AS nt,
             sum(c) AS nr
      FROM cnts GROUP BY b
    ), tot AS (
      SELECT sum(nt) AS T, sum(nr) AS R FROM bstats
    ), bw AS (
      SELECT b,
             CAST(round(1e6 * (ln((nt + 1) / CAST(T + {n_buckets} AS DOUBLE))
                             - ln((nr + 1) / CAST(R + {n_buckets} AS DOUBLE))), 0)
                  AS BIGINT) AS w
      FROM bstats, tot
    )
    SELECT cnts.doc_id, cnts.lang,
           CAST(sum(c * w) AS BIGINT) AS logw_micro
    FROM cnts JOIN bw USING (b)
    GROUP BY 1, 2
    """


def token_collocations(
    df: DataFrame,
    window: int = 5,
    min_pair_count: int = 20,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining: the top-``top_k`` token pairs by a
    PMI-EQUIVALENT integer score. Co-occurrence counts every ordered
    window of ``window`` consecutive tokens once per adjacent pair
    inside it (pair = alphabetically ordered so (a,b)==(b,a));
    ``pmi_ratio_ppm = n_pair * n_windows * 1e6 div (n_a * n_b)`` —
    monotone in PMI (log of the same ratio), but pure int64, so the
    ranking carries a value-hash oracle with NO log() cross-engine
    seam. Ties break (ratio desc, pair asc).

    Scale shape: one window explode (window-1 pairs per corpus
    token), ONE shuffle on the pair key, token counts as a broadcast
    side; top-k via orderBy+limit (TakeOrderedAndProject, per-task
    local top-k). min_pair_count prunes the long tail BEFORE the
    ratio join.
    """
    b = bind(
        scale_out(df.select(text_col)), "_t", F.split(F.trim(F.col(text_col)), WS)
    )
    # adjacent-within-window pairs: for token i, partners i+1..i+window-1
    pairs = b.select(
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, greatest(size(_t) - 1, 0)),
                    i -> transform(
                        sequence(i + 1, least(i + {window} - 1, size(_t))),
                        j -> IF(_t[i - 1] < _t[j - 1],
                                struct(_t[i - 1] AS a, _t[j - 1] AS b),
                                struct(_t[j - 1] AS a, _t[i - 1] AS b)))))"""
            )
        ).alias("_p")
    ).select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    pc = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_pair_count)
    )
    toks = (
        b.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    total = pairs.agg(F.count(F.lit(1)).alias("_n_windows"))
    scored = (
        pc.join(F.broadcast(toks.withColumnRenamed("tok", "a")
                .withColumnRenamed("n_tok", "n_a")), "a")
        .join(F.broadcast(toks.withColumnRenamed("tok", "b")
              .withColumnRenamed("n_tok", "n_b")), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a", "b",
            F.col("n_pair").cast("long").alias("n_pair"),
            # 128-bit intermediates: at 100 TB n_pair * n_windows *
            # 1e6 overflows int64 (the quality_calibrated lesson,
            # applied preemptively) — decimal(38,0) here, HUGEINT in
            # the twin; the RATIO always fits int64
            F.expr(
                "(cast(n_pair AS decimal(38,0))"
                " * cast(_n_windows AS decimal(38,0)) * 1000000)"
                " div (cast(n_a AS decimal(38,0)) * cast(n_b AS decimal(38,0)))"
            ).cast("long").alias("pmi_ratio_ppm"),
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio_ppm").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(top_k)


def sql_token_collocations(
    table: str = "documents",
    window: int = 5,
    min_pair_count: int = 20,
    top_k: int = 50,
) -> str:
    """DuckDB twin of :func:`token_collocations`."""
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT {t} AS tk FROM {table}
    ), pairs AS (
      SELECT CASE WHEN tk[CAST(i AS INTEGER)] < tk[CAST(j AS INTEGER)]
                  THEN tk[CAST(i AS INTEGER)] ELSE tk[CAST(j AS INTEGER)] END AS a,
             CASE WHEN tk[CAST(i AS INTEGER)] < tk[CAST(j AS INTEGER)]
                  THEN tk[CAST(j AS INTEGER)] ELSE tk[CAST(i AS INTEGER)] END AS b
      FROM toks,
           unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS t1(i),
           unnest(range(i + 1, least(i + {window} - 1, len(tk)) + 1)) AS t2(j)
    ), pc AS (
      SELECT a, b, COUNT(*) AS n_pair FROM pairs GROUP BY a, b
      HAVING COUNT(*) >= {min_pair_count}
    ), tc AS (
      SELECT tok, COUNT(*) AS n_tok FROM (
        SELECT unnest(tk) AS tok FROM toks
      ) GROUP BY tok
    ), total AS (SELECT COUNT(*) AS _n_windows FROM pairs)
    SELECT p.a, p.b, CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(CAST(p.n_pair AS HUGEINT) * t._n_windows * 1000000
                // (CAST(ta.n_tok AS HUGEINT) * tb.n_tok)
                AS BIGINT) AS pmi_ratio_ppm
    FROM pc p
    JOIN tc ta ON ta.tok = p.a
    JOIN tc tb ON tb.tok = p.b
    CROSS JOIN total t
    ORDER BY pmi_ratio_ppm DESC, p.a ASC, p.b ASC
    LIMIT {top_k}
    """
