"""Deduplication operators for training-data pipelines.

Spark-first designs, each annotated with its 100 TB shape:

- **Exact**: fingerprint (md5 of normalized text) → groupBy. One
  shuffle on a short key; partial aggregation makes it map-combined.
- **MinHash + LSH**: shingle → K minhashes → B bands → band-bucket
  equi-join. The join is on (band_id, band_value) — a *hash-joinable*
  key, never an O(n²) cross product; candidate pairs are then verified
  with true Jaccard. This is the scale path for near-dedup.
- **N-gram Jaccard**: exact pairwise similarity for a candidate set
  (use after LSH at scale; standalone it is quadratic and only for
  small inputs).
- **SimHash**: 32-bit sign-aggregated fingerprint; hamming-1 buckets
  join-able by (table-rotation) — here the fingerprint itself.
- **Embedding near-dup**: cosine over an embedding column; see
  operators/similarity.py for the top-k/ANN machinery.

Hash functions are md5-based so every operator has an exact DuckDB
oracle twin (same discipline as functions/converters.py). MinHash uses
the *lexicographic min of the seeded md5 hex digest* — equivalent to a
min over 128-bit integers, and portable to any engine with md5().
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webhookdb_spark.operators.text import SQL_TOKENS, WS, ascii_lower, tokens
from webhookdb_spark.operators.util import bind, memo_col, scale_out
from webhookdb_spark.storage import read_json, write_atomic

DEFAULT_N_HASHES = 8
DEFAULT_BANDS = 4


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (native, no UDF).

    NOTE: referencing this directly embeds the token-split expression
    inside a lambda, which interpreted HOF evaluation recomputes per
    element (quadratic). Prefer ``shingle_sets`` which binds the token
    array first.
    """
    return shingles_of(tokens(ascii_lower(text)), n)


def shingles_of(t: Column, n: int = 3) -> Column:
    """Shingles over an (ideally already-bound) token-array column."""
    if n == 1:
        return F.array_distinct(t)
    joined = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(joined)


def shingle_sets(
    df: DataFrame, text_col: str = "text", shingle_n: int = 3, out: str = "_sh"
) -> DataFrame:
    """(all df columns…, ``out``: array<string>) with the shingle array
    evaluated exactly once per row: tokens are bound behind one
    projection barrier (so per-position ``element_at`` is O(1) on a
    materialized array), the shingle array behind a second (so K
    downstream hash columns don't re-shingle). Narrow, no shuffle.
    Both trees memoized per (text_col / shingle_n) — the dedup
    composites shingle several slices per query (guide §5)."""
    tok = memo_col(
        ("shingle_toks", text_col),
        lambda: tokens(ascii_lower(F.col(text_col))),
    )
    sh = memo_col(
        ("shingles_of", "_toks", shingle_n),
        lambda: shingles_of(F.col("_toks"), shingle_n),
    )
    b = bind(scale_out(df), "_toks", tok)
    return bind(b, out, sh).drop("_toks")


def sql_shingles(c: str = "text", n: int = 3) -> str:
    t = SQL_TOKENS.format(c=f"translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')")
    if n == 1:
        return f"list_distinct({t})"
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, len(toks) - {n - 2}), i -> {parts}))"
        f"".replace("toks", f"({t})")
    )


# -- exact ------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (fingerprint, n_docs, doc_ids) for groups with n_docs > 1.
    """
    norm = ascii_lower(F.regexp_replace(F.trim(F.col(text_col)), WS, " "))
    return (
        df.select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def dedupe_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id per fingerprint (deterministic survivor)."""
    norm = ascii_lower(F.regexp_replace(F.trim(F.col(text_col)), WS, " "))
    w = F.row_number().over(Window.partitionBy(F.md5(norm)).orderBy(F.col("doc_id")))
    return df.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_rn")


# -- MinHash + LSH ----------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, h0..h{K-1}) — hᵢ = min over shingles of md5('i:'+shingle).

    Entirely row-local: ONE ``aggregate`` walk over the shingle array
    carries a K-wide running-minimum accumulator (``zip_with`` + least
    against per-salt md5s) — a narrow map with NO shuffle, and one array
    traversal instead of K independent ``array_min`` passes (~1.5× at
    sf0.1; md5 count is identical, the walk overhead isn't). At 100 TB
    this scales linearly with input bytes and never materializes the
    exploded (doc_id, shingle) stream; the alternative explode→groupBy
    design shuffles |shingles| rows and is strictly worse. Docs with
    zero shingles are dropped (same semantics as an explode-based plan).
    """
    sh = F.col("_sh")
    base = shingle_sets(df.select("doc_id", text_col), text_col, shingle_n)

    def build_sig() -> Column:
        salts = F.array(*[F.lit(f"{i}:") for i in range(n_hashes)])
        return F.aggregate(
            sh,
            # 'g' sorts above every md5 hex digit — the identity for
            # least()
            F.array_repeat(F.lit("g"), n_hashes),
            lambda acc, s: F.zip_with(
                acc,
                F.transform(salts, lambda p: F.md5(F.concat(p, s))),
                lambda a, b: F.least(a, b),
            ),
        ).alias("_sigs")

    # memoized: the signature walk and the h0..hK unpack are pure trees
    # of n_hashes over the fixed `_sh`/`_sigs` names (guide §5)
    sigs = memo_col(("minhash_sigs", n_hashes), build_sig)
    cols = [
        memo_col(
            ("minhash_h", n_hashes, i),
            lambda i=i: F.element_at(F.col("_sigs"), i + 1).alias(f"h{i}"),
        )
        for i in range(n_hashes)
    ]
    return (
        base.where(F.size(sh) > 0)
        .select("doc_id", sigs)
        .select("doc_id", *cols)
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Band-bucket join: docs agreeing on all rows of any band.

    Explodes signatures into (band_id, band_key) and self-joins on that
    pair — a plain hash join (shuffle on band_key), NOT a cross join.
    Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    """
    exploded = lsh_bands(sigs, n_hashes, bands)
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """True Jaccard over shingle sets for ``pairs`` (or all pairs when
    None — quadratic; only for candidate verification or small inputs).

    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold, rounded
    to 6 places for engine portability.
    """
    sets_ = shingle_sets(df.select("doc_id", text_col), text_col, shingle_n).select(
        "doc_id", F.col("_sh").alias("sh")
    )
    if pairs is None:
        a, b = sets_.alias("a"), sets_.alias("b")
        joined = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        joined = (
            pairs.join(sets_.alias("a"), pairs.doc_a == F.col("a.doc_id"))
            .join(sets_.alias("b"), pairs.doc_b == F.col("b.doc_id"))
        )
    # bind() the intersection size and the score so (a) the intersect is
    # computed once per pair even though the union term references it
    # twice, and (b) the threshold filter can't be pushed into the join
    # condition and re-evaluate the whole thing per candidate pair.
    paired = joined.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sh").alias("_sha"),
        F.col("b.sh").alias("_shb"),
    )
    paired = bind(
        paired,
        "_inter",
        F.size(F.array_intersect(F.col("_sha"), F.col("_shb"))).cast("double"),
    )
    jac = F.round(
        F.col("_inter")
        / (F.size(F.col("_sha")) + F.size(F.col("_shb")) - F.col("_inter")),
        6,
    )
    return (
        bind(paired, "jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dedup pipeline: signatures → LSH candidates → verified
    Jaccard ≥ threshold."""
    sigs = minhash_signatures(df, text_col, n_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, n_hashes, bands)
    return jaccard_pairs(df, cands, text_col, shingle_n, threshold)


# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over word tokens.

    Token hash = first 8 md5 hex chars as uint32 (same md5-prefix trick
    as str2inthash, so it has an exact SQL twin). For each bit, sum
    ±1 over distinct tokens; bit set iff sum > 0. Near-duplicates have
    small hamming distance between fingerprints.

    Row-local (no shuffle): token hashes live in an array column and the
    whole fingerprint is computed in ONE ``aggregate`` pass carrying a
    32-wide bit-sum accumulator (``zip_with`` against a weight-array of
    bit masks). Higher-order functions are interpreted, so one walk with
    a vector accumulator beats 32 independent per-bit walks ~3× — the
    explode→groupBy alternative would shuffle |tokens| rows for no
    benefit. Docs with zero tokens are dropped (parity with an
    explode-based plan).
    """
    toks = F.array_distinct(tokens(ascii_lower(F.col(text_col))))
    h = lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")  # noqa: E731
    th = F.col("_th")
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    bit_sums = F.aggregate(
        th,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(weights, lambda w: F.when(t.bitwiseAND(w) != 0, 1).otherwise(-1)),
            lambda a, d: a + d,
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            bit_sums,
            weights,
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # Same explode(array(...)) projection barrier as minhash_signatures:
    # evaluate the hashed-token array once, not once per bit.
    return (
        scale_out(df).select("doc_id", F.explode(F.array(F.transform(toks, h))).alias("_th"))
        .where(F.size(th) > 0)
        .select("doc_id", fingerprint.alias("simhash"))
    )


def sql_simhash(table: str = "documents") -> str:
    toks = SQL_TOKENS.format(c="translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (th // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM {table}
    ), h AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS th
      FROM t
    ), s AS (
      SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM s
    """


# -- SQL twins for the minhash pipeline ------------------------------------

def sql_minhash_signatures(
    table: str = "documents", n_hashes: int = DEFAULT_N_HASHES, shingle_n: int = 3
) -> str:
    sh = sql_shingles("text", shingle_n)
    mins = ", ".join(
        f"min(md5('{i}:' || sh)) AS h{i}" for i in range(n_hashes)
    )
    return f"""
    WITH s AS (SELECT doc_id, unnest({sh}) AS sh FROM {table})
    SELECT doc_id, {mins} FROM s GROUP BY doc_id
    """


def sql_minhash_dedup_pairs(
    table: str = "documents",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> str:
    rows = n_hashes // bands
    sig = sql_minhash_signatures(table, n_hashes, shingle_n)
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        + f" AS band_key FROM sigs"
        for b in range(bands)
    )
    sh = sql_shingles("text", shingle_n)
    return f"""
    WITH sigs AS ({sig}),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sets_ AS (SELECT doc_id, {sh} AS sh FROM {table})
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM cand c
    JOIN sets_ a ON c.doc_a = a.doc_id
    JOIN sets_ b ON c.doc_b = b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= {threshold}
    """


def sql_jaccard_all_pairs(
    table: str = "documents",
    pred: str = "doc_id < 500",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`jaccard_pairs` with ``pairs=None`` over a
    predicate-scoped subset (all-pairs is quadratic by definition; the
    scale path is LSH candidates → :func:`jaccard_pairs`)."""
    sh = sql_shingles("text", shingle_n)
    jac = (
        "round(len(list_intersect(a.sh, b.sh))::DOUBLE"
        " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)"
    )
    return f"""
    WITH sets_ AS (SELECT doc_id, {sh} AS sh FROM {table} WHERE {pred})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
    FROM sets_ a JOIN sets_ b ON a.doc_id < b.doc_id
    WHERE {jac} >= {threshold}
    """


# -- Benchmark decontamination (cross-corpus n-gram overlap) ----------------

def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 5,
) -> DataFrame:
    """Flag training documents sharing any word ``ngram_n``-gram with an
    evaluation/benchmark set — the standard n-gram decontamination
    discipline for LLM training corpora (published method: GPT-3
    appendix C / Dodge et al. C4 audit; 8-13 grams in production, 5
    here because the fixture documents are short).

    Output: ``(doc_id, n_shared_ngrams, n_ngrams, contaminated)`` — one
    row per training document, counting its distinct grams that also
    appear anywhere in the eval set.

    100 TB shape: the eval side reduces to DISTINCT grams (benchmarks
    are tiny next to a training corpus) and is explicitly broadcast, so
    the gram probe is map-side against the exploded train grams — no
    corpus-wide shuffle on gram values. Per-doc hit counts then shuffle
    only (doc_id, count) pairs back onto the (narrow) doc spine; AQE
    turns that join broadcast when contamination is sparse, which it
    is by construction in a decontamination pass.
    """
    tg = shingle_sets(train, text_col, ngram_n)
    base = tg.select(
        F.col(id_col).alias("doc_id"), F.size("_sh").alias("n_ngrams"), "_sh"
    )
    grams = base.select("doc_id", F.explode("_sh").alias("_g"))
    ev = (
        shingle_sets(eval_df, text_col, ngram_n)
        .select(F.explode("_sh").alias("_g"))
        .distinct()
    )
    hits = (
        grams.join(F.broadcast(ev), "_g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
    )
    return (
        base.drop("_sh")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_n_shared", F.lit(0)).cast("int").alias("n_shared_ngrams"),
            F.col("n_ngrams").cast("int").alias("n_ngrams"),
            (F.coalesce("_n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def sql_decontaminate(
    table: str = "documents",
    eval_pred: str = "doc_id % 7 = 0",
    ngram_n: int = 5,
) -> str:
    """DuckDB twin of :func:`decontaminate` with the eval set carved
    from the same table by ``eval_pred`` (train = the complement)."""
    sh = sql_shingles("text", ngram_n)
    return f"""
    WITH ev AS (
      SELECT DISTINCT g
      FROM (SELECT unnest({sh}) AS g FROM {table} WHERE {eval_pred})
    ),
    tr AS (
      SELECT doc_id, {sh} AS sh FROM {table} WHERE NOT ({eval_pred})
    ),
    hits AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM (SELECT doc_id, unnest(sh) AS g FROM tr) t
      JOIN ev USING (g)
      GROUP BY 1
    )
    SELECT tr.doc_id,
           CAST(coalesce(h.n_shared, 0) AS INTEGER) AS n_shared_ngrams,
           CAST(len(tr.sh) AS INTEGER) AS n_ngrams,
           coalesce(h.n_shared, 0) > 0 AS contaminated
    FROM tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
    """


# -- Bloom-filter decontamination -------------------------------------------

def _bloom_pos(i: Column, g: Column, n_bits: int) -> Column:
    """Deterministic hash ``i`` of gram ``g`` into ``[0, n_bits)``:
    md5-prefix-32-bit mod n_bits — the same engine-portable md5-prefix
    discipline as the sampling buckets and winnow fingerprints."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(i.cast("string"), F.lit(":"), g)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % n_bits
    )


def bloom_bitmap(
    eval_df: DataFrame,
    text_col: str = "text",
    ngram_n: int = 5,
    n_bits: int = 1 << 16,
    k: int = 3,
) -> list[int]:
    """Build the Bloom bitmap of an eval/benchmark set's distinct word
    n-grams as a list of ``n_bits/32`` 32-bit words (32-bit words so
    the probe's bit test stays in exact double pow/floor arithmetic —
    portable to any engine, no variable-shift operator needed).

    JUSTIFIED COLLECT: the result is metadata-sized by construction
    (``n_bits/32`` longs — 8 KB at the default, 128 KB at 2^20 bits)
    and independent of eval-set size; it rides to every executor as a
    literal, the same posture as IVF centroids and PQ codebooks."""
    ev = (
        shingle_sets(eval_df, text_col, ngram_n)
        .select(F.explode("_sh").alias("_g"))
        .distinct()
    )
    pos = ev.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: _bloom_pos(i, F.col("_g"), n_bits),
            )
        ).alias("p")
    ).distinct()
    words = (
        pos.select(
            F.floor(F.col("p") / 32).cast("int").alias("w"),
            # distinct positions => distinct bits per word => sum == bit_or
            F.pow(F.lit(2.0), (F.col("p") % 32).cast("int"))
            .cast("long")
            .alias("b"),
        )
        .groupBy("w")
        .agg(F.sum("b").alias("word"))
        .collect()
    )
    out = [0] * (n_bits // 32)
    for r in words:
        out[r["w"]] = int(r["word"])
    return out


def _bloom_probe_kernel(words: list[int], n_bits: int, k: int):
    """Arrow-batched Bloom probe: per doc, md5-hash each distinct gram
    k times (C hashlib) and test the bitmap bits in numpy.

    JUSTIFIED UDF (same argument as text._winnow_kernel): the
    expression probe is a filter(forall(sequence)) of k md5 calls per
    gram — interpreted HOFs outside whole-stage codegen, each paying a
    fresh JVM MessageDigest; measured 5.5× the exact-join
    decontaminate at sf0.1. Hash parity is exact: the kernel takes the
    first 4 digest bytes big-endian == the md5-prefix-8-hex-chars
    integer `_bloom_pos` computes, and probes the same 32-bit words."""

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        w = np.asarray(words, dtype=np.uint64)
        pre = [f"{i}:".encode() for i in range(k)]

        # grams repeat heavily across documents (natural-language token
        # n-grams are Zipfian), so probe each distinct gram once per
        # worker and reuse the verdict — the cache is bounded by the
        # distinct-gram count of the partitions this worker sees
        cache: dict = {}

        def hit(g: bytes) -> bool:
            v = cache.get(g)
            if v is None:
                v = True
                for p0 in pre:
                    p = int.from_bytes(md5(p0 + g).digest()[:4], "big") % n_bits
                    if not (int(w[p >> 5]) >> (p & 31)) & 1:
                        v = False
                        break
                cache[g] = v
            return v

        for pdf in batches:
            ids, nf, ng = [], [], []
            for doc_id, sh in zip(pdf["doc_id"].values, pdf["_sh"].values):
                grams = [] if sh is None else list(sh)
                n_hit = sum(1 for g in grams if hit(str(g).encode("utf-8")))
                ids.append(doc_id)
                nf.append(n_hit)
                ng.append(len(grams))
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "n_flagged_ngrams": np.asarray(nf, dtype=np.int32),
                    "n_ngrams": np.asarray(ng, dtype=np.int32),
                    "flagged": np.asarray(nf, dtype=np.int64) > 0,
                }
            )

    return gen


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 5,
    n_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Decontamination at the scale where even the benchmark gram set
    outgrows a broadcast join: compress the eval set to an ``n_bits``
    Bloom bitmap (:func:`bloom_bitmap`) and probe every training gram
    with ``k`` bit tests — a pure narrow map over the corpus, zero
    joins, zero shuffles until the per-doc aggregate of counts.

    Versus :func:`decontaminate` (exact gram join): this trades a
    deterministic, oracle-checkable false-positive rate (positions are
    md5-derived, so FPs are identical on every engine) for an index
    whose size is FIXED at ``n_bits/8`` bytes no matter how many grams
    the benchmark suite holds — the right side of the trade when the
    union of all eval suites is itself corpus-sized. Flagged docs are
    candidates: confirm with the exact join on the (tiny) flagged
    subset, never the full corpus.

    Output: ``(doc_id, n_flagged_ngrams, n_ngrams, flagged)``.

    The probe runs in an Arrow-batched kernel
    (:func:`_bloom_probe_kernel`), hash-identical to the DuckDB twin
    :func:`sql_bloom_decontaminate`.
    """
    words = bloom_bitmap(eval_df, text_col, ngram_n, n_bits, k)
    tg = shingle_sets(train, text_col, ngram_n).select(
        F.col(id_col).alias("doc_id"), "_sh"
    )
    return tg.mapInPandas(
        _bloom_probe_kernel(words, n_bits, k),
        "doc_id long, n_flagged_ngrams int, n_ngrams int, flagged boolean",
    )


def sql_bloom_decontaminate(
    table: str = "documents",
    eval_pred: str = "doc_id % 7 = 0",
    ngram_n: int = 5,
    n_bits: int = 1 << 16,
    k: int = 3,
) -> str:
    """DuckDB twin of :func:`bloom_decontaminate`: identical md5
    positions; membership tested against the distinct position SET
    (set-membership and bitmap-bit tests are the same predicate, so the
    twin skips the bit packing)."""
    sh = sql_shingles("text", ngram_n)
    pos = (
        f"CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || g), 1, 8)"
        f" AS BIGINT) % {n_bits}"
    )
    return f"""
    WITH ev AS (
      SELECT DISTINCT {pos} AS p
      FROM (SELECT DISTINCT unnest({sh}) AS g FROM {table} WHERE {eval_pred}),
           (SELECT unnest(range({k})) AS i)
    ),
    tr AS (
      SELECT doc_id, {sh} AS sh FROM {table} WHERE NOT ({eval_pred})
    ),
    gp AS (
      SELECT doc_id, g, i, {pos} AS p
      FROM (SELECT doc_id, unnest(sh) AS g FROM tr),
           (SELECT unnest(range({k})) AS i)
    ),
    hitg AS (
      SELECT doc_id, g
      FROM gp LEFT JOIN ev ON gp.p = ev.p
      GROUP BY doc_id, g
      HAVING count(ev.p) = {k}
    ),
    hits AS (
      SELECT doc_id, count(*) AS n FROM hitg GROUP BY doc_id
    )
    SELECT tr.doc_id,
           CAST(coalesce(h.n, 0) AS INTEGER) AS n_flagged_ngrams,
           CAST(len(tr.sh) AS INTEGER) AS n_ngrams,
           coalesce(h.n, 0) > 0 AS flagged
    FROM tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
    """


# -- Duplicate clustering (connected components + canonical pick) -----------

def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of the undirected pair graph by min-label
    propagation: labels start at ``min(self, neighbors)`` (the seed
    aggregate already performs round one's work); each round the label
    becomes the min over itself and its neighbors; at fixpoint the label
    is the component's minimum vertex id. Returns ``(v, component)``
    for every vertex appearing in an edge.

    Iterative-algorithm shape for Spark, with CONTRACTION (the standard
    star-contraction family of MapReduce CC optimizations): each level
    merges every vertex into the min of its closed neighborhood, then
    rewrites the edge list itself over the merged representatives
    (loops dropped, duplicates collapsed). The full edge volume is
    touched exactly once — the level-0 seed aggregate plus one
    relabel-both-endpoints pass — and every later level runs on the
    contracted remainder, which for near-dup graphs (dense little
    cliques) is empty or near-empty after one contraction. A plain
    min-label propagation instead re-joins the FULL edge list every
    round, so its per-round cost never shrinks; that was the dominant
    sf1 cost of ``dedup_clusters``.

    Driver-action budget: one eager ``localCheckpoint`` job per
    materialization — the input edge list (so an expensive pair
    pipeline upstream runs exactly once), the level-0 labels, then one
    contracted edge list per level (lineage would otherwise double per
    level). The
    convergence probe — the contracted edge COUNT, zero exactly at
    fixpoint — rides the same materialization as an ``Observation``
    metric (checkpointing runs through ``withAction``, which delivers
    collected metrics), so no extra probe jobs. Per-level mappings are
    tiny (one row per still-contracting representative) and are
    composed into the final labels lazily with broadcast-sized left
    joins. ``stats`` (optional dict) receives ``{"rounds": n}`` (the
    driver-job count, gated in tests) and ``{"levels": k}``.
    """
    from pyspark.sql import Observation

    # Materialize the edge list ONCE before anything touches it. The
    # symmetric union reads `edges` twice and every job re-plans its
    # lineage from scratch, so an expensive upstream (LSH pair
    # generation over the full corpus) would otherwise re-run per
    # materialization — at sf1 that recompute, not propagation, was the
    # dominant dedup_clusters cost. Candidate pair lists are orders of
    # magnitude smaller than the corpus, so this checkpoint is cheap at
    # any scale.
    edges = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).localCheckpoint(eager=True)
    sym = edges.union(edges.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
    cur = sym
    rounds = 1
    labels0 = None
    mappings: list[DataFrame] = []
    levels = 0
    for _ in range(max_iter):
        # Merge rule: label = min(self, neighbors) — the seed aggregate
        # IS a propagation round, so initialization does round one's work.
        lab = (
            cur.groupBy(F.col("_s").alias("v"))
            .agg(F.min("_d").alias("_m"))
            .select("v", F.least(F.col("v"), F.col("_m")).alias("label"))
        )
        if labels0 is None:
            # Level 0 touches the full edge volume and feeds both the
            # contraction and the final output: materialize it once.
            lab = lab.localCheckpoint(eager=True)
            labels0 = lab
            rounds += 1
        else:
            # Later levels re-derive their (tiny) mapping lazily from
            # the checkpointed contracted edges — no extra job.
            mappings.append(lab)
        levels += 1
        la = lab.select(F.col("v").alias("_sv"), F.col("label").alias("_sl"))
        lb = lab.select(F.col("v").alias("_dv"), F.col("label").alias("_dl"))
        obs = Observation()
        cur = (
            cur.join(la, cur["_s"] == la["_sv"])
            .join(lb, cur["_d"] == lb["_dv"])
            .where(F.col("_sl") != F.col("_dl"))
            .select(F.col("_sl").alias("_s"), F.col("_dl").alias("_d"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)
        )
        rounds += 1
        if obs.get["c"] == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["levels"] = levels
    if labels0 is None:  # no iterations ran (max_iter == 0)
        return sym.select(F.col("_s").alias("v"), F.col("_s").alias("label")).limit(0)
    final = labels0
    for m in mappings:
        m2 = m.select(F.col("v").alias("_r"), F.col("label").alias("_nl"))
        final = final.join(m2, final["label"] == m2["_r"], "left").select(
            final["v"], F.coalesce(F.col("_nl"), final["label"]).alias("label")
        )
    return final


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Cluster near-duplicates and pick one canonical document per
    cluster — the "keep list" step a training-data pipeline runs after
    pair detection (pairs alone don't dedupe: A~B and B~C must collapse
    to ONE kept document, which needs the transitive closure).

    ``pairs`` defaults to :func:`minhash_dedup_pairs` on ``df``.
    Output: one row per document with its ``cluster_id`` (the cluster's
    minimum doc id; singletons are their own cluster), ``cluster_size``,
    and ``keep`` — true for the canonical pick (longest text, ties to
    the smallest id: prefer the most complete copy).

    Deterministic end-to-end, so it carries a full value-hash oracle
    (:func:`sql_dedup_clusters`, a recursive CTE) — the single window
    at the end is partitioned by cluster, and clusters are tiny by
    construction, so no skew concern at scale.
    """
    if pairs is None:
        pairs = minhash_dedup_pairs(df, text_col, n_hashes, bands, shingle_n, threshold)
    cc = connected_components(pairs)
    docs = df.select(
        F.col(id_col).alias("doc_id"), F.length(F.col(text_col)).alias("_len")
    )
    labeled = docs.join(cc, docs["doc_id"] == cc["v"], "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id"), "_len"
    )
    w = Window.partitionBy("cluster_id")
    pick = Window.partitionBy("cluster_id").orderBy(
        F.col("_len").desc(), F.col("doc_id").asc()
    )
    return (
        labeled.withColumn("cluster_size", F.count("*").over(w).cast("int"))
        .withColumn("keep", F.row_number().over(pick) == 1)
        .select("doc_id", "cluster_id", "cluster_size", "keep")
    )


def sql_dedup_clusters(
    table: str = "documents",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> str:
    """DuckDB twin of :func:`dedup_clusters`: identical pair generation
    (:func:`sql_minhash_dedup_pairs`), then a recursive CTE propagates
    the min label across edges until fixpoint (UNION set semantics
    bound the recursion)."""
    pairs = sql_minhash_dedup_pairs(table, n_hashes, bands, shingle_n, threshold)
    return f"""
    WITH RECURSIVE pairs_ AS ({pairs}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs_
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs_
    ),
    walk(v, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.v
    ),
    cc AS (SELECT v, min(label) AS label FROM walk GROUP BY v),
    labeled AS (
      SELECT d.doc_id,
             coalesce(cc.label, d.doc_id) AS cluster_id,
             length(d.text) AS _len
      FROM {table} d LEFT JOIN cc ON cc.v = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS cluster_size,
           (row_number() OVER (PARTITION BY cluster_id
                               ORDER BY _len DESC, doc_id ASC) = 1) AS keep
    FROM labeled
    """


# -- Cross-corpus exact segment dedup (RefinedWeb-style) ---------------------

def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    seg_tokens: int = 8,
) -> DataFrame:
    """Exact substring deduplication ACROSS documents, approximated as
    aligned non-overlapping ``seg_tokens``-token segments — the
    scalable stand-in for suffix-array exact-substring dedup
    (RefinedWeb/Lee et al. "Deduplicating Training Data Makes Language
    Models Better"): a verbatim run of ≥ ``2*seg_tokens - 1`` tokens
    shared by two documents is guaranteed to collide on at least one
    aligned segment. Every duplicated segment is removed from all but
    its first occurrence (lowest ``(doc_id, seg_idx)``), and each
    document's text is rebuilt from its surviving segments in order —
    the remove-the-span posture of the paper, not drop-the-document.

    Returns (doc_id, n_segments, n_dropped, clean_text); a fully
    duplicated document survives as an empty ``clean_text`` row (a
    filterable fact, not a silent disappearance).

    100 TB shape: segment building is a narrow map (no UDF); duplicate
    detection is ONE shuffle keyed by the segment string — a
    hash-partitionable key, never an all-pairs compare — and the
    rebuild is one more shuffle keyed by doc_id. Both aggregates are
    partial-agg friendly; a skewed boilerplate segment (the same nav
    bar on a billion pages) is exactly what AQE skew-split handles, and
    the first-occurrence rule keeps the survivor deterministic under
    any partitioning. Reference scope note: the Ruby reference has no
    corpus operators at all; this is pipeline surface beyond it.
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
    segs = b.select(
        "doc_id", F.posexplode("_segs").alias("seg_idx", "seg")
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    flagged = segs.withColumn("_occ", F.row_number().over(w))
    keep = F.col("_occ") == 1
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_segments"),
        F.sum(F.when(~keep, 1).otherwise(0)).cast("int").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("seg_idx", "seg"))
                    )
                ),
                lambda s: s.seg,
            ),
            " ",
        ).alias("clean_text"),
    )


def sql_segment_dedup(table: str = "documents", seg_tokens: int = 8) -> str:
    """DuckDB twin of :func:`segment_dedup` (same tokenization, same
    aligned segments, same first-occurrence keep rule)."""
    k = seg_tokens
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS t FROM {table}
    ), segs0 AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(t) / {k}.0) AS INTEGER)),
                            i -> array_to_string(t[i * {k} + 1 : i * {k} + {k}], ' '))
               AS segs
      FROM toks
    ), segs AS (
      SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS seg_idx, segs[CAST(u.i AS INTEGER)] AS seg
      FROM segs0, unnest(range(1, len(segs) + 1)) AS u(i)
    ), flagged AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS occ
      FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_segments,
           CAST(count(*) FILTER (WHERE occ > 1) AS INTEGER) AS n_dropped,
           coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE occ = 1), '')
             AS clean_text
    FROM flagged
    GROUP BY doc_id
    """


# -- Incremental (batch-vs-corpus) near-dedup --------------------------------

def lsh_bands(
    sigs: DataFrame,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(doc_id, band_id, band_key): the persistable LSH band index of a
    signature table. This IS the stored artifact of incremental dedup —
    at 100 TB you write it partitioned/bucketed by (band_id, band_key)
    once, and every new batch joins against it instead of recomputing
    corpus signatures."""
    rows_per_band = n_hashes // bands

    def build_bands() -> Column:
        band_cols = [
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
        return F.explode(F.array(*band_cols)).alias("band")

    # memoized: pure tree of (n_hashes, bands) over the h0..hK names
    band = memo_col(("lsh_bands", n_hashes, bands), build_bands)
    return sigs.select("doc_id", band).select(
        "doc_id", "band.band_id", "band.band_key"
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_bands: DataFrame | None = None,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dedup a NEW batch against an EXISTING corpus without
    recomputing the corpus: (new_doc, dup_of, jaccard) for every new
    document whose true shingle Jaccard against some corpus document
    clears ``threshold``.

    The production posture behind every periodically-refreshed training
    corpus: signatures/bands of the standing corpus are computed once
    and stored (:func:`lsh_bands`); each incoming batch computes ONLY
    its own signatures (batch-sized work), hash-joins its bands against
    the stored index, and verifies the surviving candidates with exact
    Jaccard — corpus-sized work never recurs. Pass ``corpus_bands`` to
    use a stored index; omitted, it is derived from ``corpus_docs``
    (the cold-start path, equivalent by construction).
    """
    if corpus_bands is None:
        corpus_bands = lsh_bands(
            minhash_signatures(corpus_docs, text_col, n_hashes, shingle_n),
            n_hashes, bands,
        )
    new_bands = lsh_bands(
        minhash_signatures(new_docs, text_col, n_hashes, shingle_n),
        n_hashes, bands,
    )
    cand = (
        new_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            on=[
                F.col("n.band_id") == F.col("c.band_id"),
                F.col("n.band_key") == F.col("c.band_key"),
            ],
        )
        .select(
            F.col("n.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
        )
        .distinct()
    )
    both = new_docs.select("doc_id", text_col).unionByName(
        corpus_docs.select("doc_id", text_col)
    )
    verified = jaccard_pairs(both, cand, text_col, shingle_n, threshold)
    return verified.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
    )


def sql_incremental_minhash_dedup(
    table: str = "documents",
    new_pred: str = "doc_id % 10 = 0",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> str:
    """DuckDB twin of :func:`incremental_minhash_dedup` with the corpus
    carved by ``NOT (new_pred)``."""
    rows = n_hashes // bands
    sh = sql_shingles("text", shingle_n)
    mins = ", ".join(f"min(md5('{i}:' || sh)) AS h{i}" for i in range(n_hashes))

    def bands_cte(src: str) -> str:
        return "\n      UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            + " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
            + f" AS band_key FROM {src}"
            for b in range(bands)
        )

    return f"""
    WITH newd AS (SELECT * FROM {table} WHERE {new_pred}),
    corpus AS (SELECT * FROM {table} WHERE NOT ({new_pred})),
    sig_n AS (
      SELECT doc_id, {mins} FROM
        (SELECT doc_id, unnest({sh}) AS sh FROM newd) GROUP BY doc_id
    ),
    sig_c AS (
      SELECT doc_id, {mins} FROM
        (SELECT doc_id, unnest({sh}) AS sh FROM corpus) GROUP BY doc_id
    ),
    bands_n AS ({bands_cte("sig_n")}),
    bands_c AS ({bands_cte("sig_c")}),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS dup_of
      FROM bands_n n JOIN bands_c c
        ON n.band_id = c.band_id AND n.band_key = c.band_key
    ),
    sets_ AS (SELECT doc_id, {sh} AS sh FROM {table})
    SELECT cd.new_doc, cd.dup_of,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
             AS jaccard
    FROM cand cd
    JOIN sets_ a ON cd.new_doc = a.doc_id
    JOIN sets_ b ON cd.dup_of = b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
          >= {threshold}
    """


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------


def _word_ngram_stream(
    df: DataFrame, text_col: str, ngram: int
) -> DataFrame:
    """(doc_id, token) stream of distinct word-level tokens
    (``ngram=1``) or word n-gram shingles of the lowercased alnum word
    sequence. Shingling is what makes prefix filtering effective on
    SMALL-vocabulary corpora: with few distinct words, every word is
    frequent and nothing discriminates, but n-gram shingles span a
    combinatorial space where near-duplicates share tokens and
    unrelated docs don't.

    The word array is BOUND in its own projection before the shingle
    transform: lambda bodies get no common-subexpression elimination,
    so referencing the split expression directly would re-tokenize the
    document once per element_at — measured 12x slower on the r7
    corpus (the same no-CSE-in-array-constructors pitfall
    ABBENCH_r06 §2 documented for the count-min probes)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    # The tokenize + shingle transform is the CPU cost of the whole
    # prefix join and inherits the scan's partitioning — a one-file
    # corpus shingles in ONE task (scale_out is a no-op once the scan
    # itself is parallel).
    base = scale_out(df.select("doc_id", F.col(text_col))).select(
        "doc_id", words.alias("_w")
    )
    if ngram == 1:
        toks = F.array_distinct(F.col("_w"))
    else:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(F.col("_w")) - (ngram - 1)),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(F.col("_w"), (i + j).cast("int"))
                    for j in range(ngram)
                ],
            ),
        )
        toks = F.when(
            F.size(F.col("_w")) >= ngram, F.array_distinct(grams)
        ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "doc_id", F.explode(toks).alias("token")
    ).where(F.col("token") != "")


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    threshold_num: int = 95,
    threshold_den: int = 100,
    ngram: int = 1,
) -> DataFrame:
    """Exact token-Jaccard similarity join at threshold
    ``threshold_num/threshold_den`` via prefix filtering — the
    deterministic alternative to MinHash: no probabilistic misses,
    still never all-pairs.

    Candidate generation (the PPJoin idea, Xiao et al., WWW'08 —
    public literature): order every document's distinct tokens by a
    GLOBAL total order (ascending document frequency, token string as
    tie-break), and join only on each document's first
    ``n - ceil(t*n) + 1`` tokens. If two docs have Jaccard >= t their
    prefixes must share a token, so the hash-join on prefix tokens
    finds every qualifying pair; because prefixes are the RAREST
    tokens, candidate fan-out stays near the true-pair count instead
    of the stop-word blow-up a full token join would hit.

    All threshold arithmetic is integer-exact: the prefix bound uses
    ``ceil(num*n/den) = (num*n + den - 1) div den`` and the final test
    is the cross-multiplication ``inter * den >= num * union`` — no
    float ever decides membership, so the DuckDB all-pairs twin
    (:func:`sql_prefix_jaccard_join`, which shares none of the prefix
    machinery) hashes identically. The reported ``jaccard`` column is
    the display double, rounded to 6 places.

    Distributed shape: one token explode, one vocabulary-keyed
    aggregate for document frequency, a doc-keyed rank window (bounded
    by the longest document), a prefix-token hash join, and one
    verification join against the per-doc sorted token arrays. Every
    stage is keyed (token / doc_id / pair) — nothing quadratic,
    nothing single-partition.
    """
    num, den = threshold_num, threshold_den
    toks = _word_ngram_stream(df, text_col, ngram)
    token_df = toks.groupBy("token").agg(F.count("*").alias("_tdf"))

    w_rank = Window.partitionBy("doc_id").orderBy("_tdf", "token")
    w_n = Window.partitionBy("doc_id")
    ranked = (
        toks.join(token_df, "token")
        .select(
            "doc_id",
            "token",
            F.row_number().over(w_rank).alias("_rnk"),
            F.count(F.lit(1)).over(w_n).alias("_n"),
        )
    )
    # integer-exact prefix length: n - ceil(num*n/den) + 1
    alpha = F.floor((num * F.col("_n") + den - 1) / den)
    prefix = ranked.where(F.col("_rnk") <= F.col("_n") - alpha + 1).select(
        "doc_id", "token"
    )

    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )

    sets_ = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("token")).alias("_set")
    )
    paired = (
        cands.join(
            sets_.select(
                F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa")
            ),
            "doc_a",
        )
        .join(
            sets_.select(
                F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb")
            ),
            "doc_b",
        )
    )
    paired = bind(
        paired,
        "_inter",
        F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("long"),
    )
    paired = bind(
        paired,
        "_union",
        F.size(F.col("_sa")) + F.size(F.col("_sb")) - F.col("_inter"),
    )
    return (
        paired.where(F.col("_inter") * den >= num * F.col("_union"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_inter").cast("double") / F.col("_union").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def sql_prefix_jaccard_join(
    table: str = "documents",
    text_col: str = "text",
    threshold_num: int = 95,
    threshold_den: int = 100,
    ngram: int = 1,
) -> str:
    """DuckDB twin of :func:`prefix_jaccard_join` — the brute-force
    EXACT all-pairs token join, deliberately sharing none of the
    prefix-filter machinery so a green row proves the filter loses no
    pairs. Same integer cross-multiplied threshold, same word-ngram
    tokenization."""
    num, den = threshold_num, threshold_den
    words = (
        f"list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),"
        " x -> x <> '')"
    )
    if ngram == 1:
        toks_cte = f"""
    toks AS (
      SELECT DISTINCT doc_id, t AS token FROM (
        SELECT doc_id, unnest({words}) AS t FROM {table})
      WHERE t <> ''
    )"""
    else:
        gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(ngram))
        toks_cte = f"""
    toks AS (
      SELECT DISTINCT doc_id, t AS token FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - {ngram - 1}),
                                     i -> {gram})) AS t
        FROM (SELECT doc_id, {words} AS w FROM {table})
        WHERE len(w) >= {ngram})
    )"""
    return f"""
    WITH {toks_cte},
    sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE)
                 / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
    FROM pairs
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter * {den} >= {num} * (sa.n + sb.n - inter)
    """


# -- Sliding-window span novelty + cross-source leakage ----------------------
#
# The sliding-window complement of :func:`segment_dedup`: where that
# operator REWRITES documents by dropping duplicated aligned segments,
# these two AUDIT the corpus through every overlapping k-token window
# — the per-doc novelty score curation pipelines threshold on, and the
# source-pair leakage matrix that catches verbatim contamination
# between corpus subsets (e.g. a benchmark split that leaked into a
# crawl source). Reference scope note: the Ruby reference has no
# corpus operators; this is training-pipeline surface beyond it.


def _span_windows(df: DataFrame, k: int, text_col: str, extra: list[str]):
    """(doc_id, *extra, h): md5 of every overlapping ``k``-token
    window (docs shorter than ``k`` tokens yield none). Narrow map —
    one bound token array, one explode of size-k+1 hashes; the md5
    collapses each window to 32 bytes BEFORE the shuffle, so shuffle
    bytes are ~32B per corpus token regardless of token length."""
    b = bind(
        scale_out(df.select("doc_id", *extra, text_col)),
        "_t",
        memo_col(
            ("span_toks", text_col), lambda: tokens(F.col(text_col))
        ),
    )
    # pure trees of (k) over the fixed `_t` name — memoized (guide §5):
    # the span composites window several slices per query
    exploded = memo_col(
        ("span_wins", k),
        lambda: F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - k),
                lambda i: F.md5(F.array_join(F.slice("_t", i + 1, k), " ")),
            )
        ).alias("h"),
    )
    gate = memo_col(("span_gate", k), lambda: F.size("_t") >= k)
    return b.where(gate).select("doc_id", *extra, exploded)


def span_novelty(
    df: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Per-document span novelty: of a doc's overlapping ``k``-token
    windows, how many are unique in the whole corpus. Returns
    (doc_id, n_windows, dup_windows, novelty_ppm) where a window is
    "dup" iff its hash occurs anywhere else (another doc OR a repeat
    inside the same doc — self-plagiarism counts, matching the
    remove-any-repeat posture of Lee et al.), and ``novelty_ppm =
    (n_windows - dup_windows) * 1000000 div n_windows`` (integer
    arithmetic — exact in both engines, no float-floor seam).

    100 TB shape: ONE shuffle keyed by the window hash (the corpus-
    wide occurrence count rides a hash-partitioned window function —
    no self-join), then one doc_id re-aggregate. Both partial-agg
    friendly; the boilerplate-span skew case is AQE's skew-split.
    """
    wins = _span_windows(df, k, text_col, [])
    occ = F.count(F.lit(1)).over(Window.partitionBy("h"))
    per = wins.select("doc_id", (occ > 1).cast("int").alias("_dup"))
    n = F.count(F.lit(1)).cast("long")
    dup = F.sum("_dup").cast("long")
    return per.groupBy("doc_id").agg(
        n.alias("n_windows"),
        dup.alias("dup_windows"),
        ((n - dup) * F.lit(1000000)).alias("_num"),
    ).select(
        "doc_id", "n_windows", "dup_windows",
        F.expr("_num div n_windows").cast("long").alias("novelty_ppm"),
    )


def sql_span_novelty(table: str = "documents", k: int = 8) -> str:
    """DuckDB twin of :func:`span_novelty` (same windows, same
    integer-division novelty)."""
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS tk FROM {table}
    ), ix AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - {k} + 2)) AS i
      FROM toks WHERE len(tk) >= {k}
    ), wins AS (
      SELECT doc_id,
             md5(array_to_string(tk[CAST(i AS INTEGER):CAST(i + {k} - 1 AS INTEGER)], ' ')) AS h
      FROM ix
    ), occ AS (
      SELECT doc_id, (count(*) OVER (PARTITION BY h) > 1) AS dup FROM wins
    )
    SELECT doc_id,
           count(*) AS n_windows,
           count(*) FILTER (WHERE dup) AS dup_windows,
           ((count(*) - count(*) FILTER (WHERE dup)) * 1000000)
             // count(*) AS novelty_ppm
    FROM occ
    GROUP BY doc_id
    """


def source_span_leakage(
    df: DataFrame, k: int = 8, text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Verbatim-leakage matrix between corpus subsets: for every pair
    of ``group_col`` values, the number of DISTINCT ``k``-token
    windows that appear in both. Returns (src_a, src_b, shared_spans)
    with src_a < src_b. This is the audit a curation pipeline runs
    before declaring train/eval sources independent.

    100 TB shape: distinct-(h, group) is one shuffle on the hash; the
    per-hash group set is collected (bounded by the number of sources,
    a few dozen — NOT by corpus size), pairs are expanded from that
    tiny array, and the final count groups on the pair key. No
    self-join on the window table, no all-pairs docs."""
    wins = _span_windows(df, k, text_col, [group_col])
    per_h = (
        wins.select("h", F.col(group_col).alias("_g"))
        .distinct()
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("_g")).alias("_gs"))
        .where(F.size("_gs") > 1)
    )
    pairs = F.expr(
        "flatten(transform(_gs, (a, i) -> "
        "transform(slice(_gs, i + 2, size(_gs)), "
        "b -> struct(a AS src_a, b AS src_b))))"
    )
    return (
        per_h.select(F.explode(pairs).alias("_p"))
        .select("_p.src_a", "_p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_spans"))
    )


def sql_source_span_leakage(table: str = "documents", k: int = 8) -> str:
    """DuckDB twin of :func:`source_span_leakage` (distinct window ×
    source, equi-self-join on the hash with an ordered pair filter —
    count(*) over the distinct set == distinct shared hashes)."""
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, source, {t} AS tk FROM {table}
    ), ix AS (
      SELECT doc_id, source, tk, unnest(range(1, len(tk) - {k} + 2)) AS i
      FROM toks WHERE len(tk) >= {k}
    ), hs AS (
      SELECT DISTINCT source,
             md5(array_to_string(tk[CAST(i AS INTEGER):CAST(i + {k} - 1 AS INTEGER)], ' ')) AS h
      FROM ix
    )
    SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS shared_spans
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """


# -- Persisted window-hash store (incremental span novelty) ------------------
#
# The restart/incremental contract of the persisted-index family
# (LSH/IVF/IVF-PQ/postings) extended to the span audit: the corpus's
# window-hash multiset lives on disk as immutable segments; a new
# batch's novelty is computed against the standing store in O(batch +
# one store probe) instead of recomputing the corpus, and appending
# the batch is one more segment write. Single-writer, like
# ManagedTable's manifest.

_SPAN_META = "_span_meta.json"


def _span_counts(df: DataFrame, k: int, text_col: str, n_shards: int) -> DataFrame:
    """Distinct window hashes with occurrence counts, sharded by a hex
    prefix of the hash (uniform by construction — md5)."""
    wins = _span_windows(df, k, text_col, [])
    shard = memo_col(
        ("span_shard", n_shards),
        lambda: F.pmod(
            F.conv(F.substring("h", 1, 6), 16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int"),
    )
    return (
        wins.groupBy("h")
        .agg(
            memo_col(
                ("span_count_n",),
                lambda: F.count(F.lit(1)).cast("long").alias("n"),
            )
        )
        .withColumn("shard", shard)
    )


def _span_write_segment(counts: DataFrame, seg_dir) -> None:
    (
        counts.repartition(F.col("shard"))
        .sortWithinPartitions("shard", "h")
        .write.partitionBy("shard")
        .mode("overwrite")
        # segment dirs are written fresh; skip the dynamic-overwrite
        # commit path
        .option("partitionOverwriteMode", "static")
        .parquet(str(seg_dir))
    )


def write_span_store(
    df: DataFrame, path: str, k: int = 8,
    text_col: str = "text", n_shards: int = 8,
) -> None:
    """Materialize the corpus's ``k``-token window-hash counts at
    ``path`` as segment 0 (``seg_0/shard=<s>/*.parquet`` + a sidecar
    with the knobs and live segment list). Rows are sorted by hash
    within each shard so file-level min/max stats stay narrow."""
    from pathlib import Path as _P

    root = _P(path)
    _span_write_segment(_span_counts(df, k, text_col, n_shards), root / "seg_0")
    meta = {"k": k, "text_col": text_col, "n_shards": n_shards,
            "segments": ["seg_0"]}
    write_atomic(root / _SPAN_META, json.dumps(meta))


def append_span_store(df_new: DataFrame, path: str) -> None:
    """Fold a new batch into the store as its own immutable segment —
    O(batch) work, existing segments are never read or rewritten. The
    same hash may appear in several segments; readers treat the store
    as a multiset (counts add)."""
    from pathlib import Path as _P

    root = _P(path)
    meta = read_json(root / _SPAN_META)
    seg = f"seg_{len(meta['segments'])}"
    _span_write_segment(
        _span_counts(df_new, meta["k"], meta["text_col"], meta["n_shards"]),
        root / seg,
    )
    meta["segments"] = meta["segments"] + [seg]
    write_atomic(root / _SPAN_META, json.dumps(meta))


def _span_store_frames(spark, path: str):
    from pathlib import Path as _P

    root = _P(path)
    meta = read_json(root / _SPAN_META)
    frames = [
        spark.read.parquet(str(root / seg)) for seg in meta["segments"]
    ]
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return meta, u


def compact_span_store(spark, path: str) -> None:
    """Merge all segments into one (counts added per hash), restoring
    the exact one-shot layout — run when the segment list grows past
    the point where per-probe union cost matters."""
    import shutil as _sh
    from pathlib import Path as _P

    root = _P(path)
    meta, u = _span_store_frames(spark, path)
    merged = (
        u.groupBy("h", "shard").agg(F.sum("n").alias("n"))
        .select("h", "n", "shard")
    )
    tmp = root / "_seg_compact"
    _span_write_segment(merged, tmp)
    for seg in meta["segments"]:
        _sh.rmtree(root / seg, ignore_errors=True)
    tmp.rename(root / "seg_0")
    meta["segments"] = ["seg_0"]
    write_atomic(root / _SPAN_META, json.dumps(meta))


def batch_span_novelty(
    df_batch: DataFrame, spark, path: str
) -> DataFrame:
    """:func:`span_novelty` for an incoming batch against the standing
    store: a batch window is dup iff it repeats WITHIN the batch or
    exists anywhere in the store. Equals the one-shot
    ``span_novelty(corpus ∪ batch)`` restricted to the batch's docs —
    the grown == one-shot contract, proven in tests.

    Cost: the batch pays its own window shuffle; the store is probed
    with ONE left-semi join against the batch's distinct hashes (semi
    join — segment unions need no cross-segment distinct and can never
    multiply rows), so the store contributes a scan but no store-sized
    shuffle. For latency-critical probes layer
    :func:`bloom_bitmap` over the store's hashes the way
    :func:`bloom_decontaminate` does."""
    meta, store = _span_store_frames(spark, path)
    wins = _span_windows(
        df_batch, meta["k"], meta["text_col"], []
    )
    occ = F.count(F.lit(1)).over(Window.partitionBy("h"))
    flagged = wins.select("doc_id", "h", (occ > 1).alias("_multi"))
    hits = (
        flagged.select("h").distinct()
        .join(store.select("h"), "h", "left_semi")
        .withColumn("_hit", F.lit(True))
    )
    per = flagged.join(hits, "h", "left").select(
        "doc_id",
        (F.col("_multi") | F.coalesce(F.col("_hit"), F.lit(False)))
        .cast("int").alias("_dup"),
    )
    n = F.count(F.lit(1)).cast("long")
    dup = F.sum("_dup").cast("long")
    return per.groupBy("doc_id").agg(
        n.alias("n_windows"),
        dup.alias("dup_windows"),
        ((n - dup) * F.lit(1000000)).alias("_num"),
    ).select(
        "doc_id", "n_windows", "dup_windows",
        F.expr("_num div n_windows").cast("long").alias("novelty_ppm"),
    )


# -- Fuzzy cross-corpus decontamination (MinHash train ↔ eval) ---------------

def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-duplicate decontamination across corpora: flag training
    documents whose shingle-Jaccard to ANY eval/benchmark document is
    ≥ ``threshold``. Exact n-gram decontamination
    (:func:`decontaminate`) misses paraphrase-level leakage — a
    benchmark item with a couple of words changed shares few exact
    13-grams but keeps a high Jaccard; this is the fuzzy pass run next
    to it (the two-tier posture of published LLM corpus audits, e.g.
    the GPT-3 appendix-C exact pass + later near-dup re-audits).

    Output: one row per training document —
    ``(doc_id, n_eval_matches, max_eval_jaccard, contaminated)``.

    100 TB shape: signatures are the row-local minhash walk (no
    shuffle); the candidate step is an LSH band join where the EVAL
    side — tiny by construction — is explicitly broadcast, so the
    train corpus is never shuffled on band keys; verification joins
    candidate train docs (sparse) to their shingle sets and broadcasts
    the eval shingle sets. Nothing is quadratic in the train corpus:
    cost = one corpus scan + work proportional to candidates.
    """
    t = train.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    e = eval_df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    tb = lsh_bands(minhash_signatures(t, "text", n_hashes, shingle_n),
                   n_hashes, bands)
    eb = (
        lsh_bands(minhash_signatures(e, "text", n_hashes, shingle_n),
                  n_hashes, bands)
        .withColumnRenamed("doc_id", "eval_id")
    )
    cand = (
        tb.join(F.broadcast(eb), ["band_id", "band_key"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    tsets = shingle_sets(t, "text", shingle_n).select("doc_id", "_sh")
    esets = (
        shingle_sets(e, "text", shingle_n)
        .select(F.col("doc_id").alias("eval_id"), F.col("_sh").alias("_esh"))
    )
    inter = F.size(F.array_intersect("_sh", "_esh"))
    jac = F.round(
        inter / (F.size("_sh") + F.size("_esh") - inter).cast("double"), 6
    )
    scored = (
        cand.join(tsets, "doc_id")
        .join(F.broadcast(esets), "eval_id")
        .select("doc_id", jac.alias("_j"))
        .where(F.col("_j") >= threshold)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("_n"),
            F.max("_j").alias("_mx"),
        )
    )
    return t.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("_n", F.lit(0)).alias("n_eval_matches"),
        F.coalesce("_mx", F.lit(0.0)).alias("max_eval_jaccard"),
        (F.coalesce("_n", F.lit(0)) > 0).alias("contaminated"),
    )


def sql_fuzzy_decontaminate(
    table: str = "documents",
    eval_pred: str = "doc_id % 7 = 0",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`fuzzy_decontaminate` with the eval set
    carved out of ``table`` by ``eval_pred`` (train = the complement),
    mirroring :func:`sql_decontaminate`'s fixture convention."""
    rows = n_hashes // bands
    sig = sql_minhash_signatures("train_", n_hashes, shingle_n)
    esig = sql_minhash_signatures("eval_", n_hashes, shingle_n)
    def band_sel(src: str) -> str:
        return "\n      UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            + " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
            + f" AS band_key FROM {src}"
            for b in range(bands)
        )
    sh = sql_shingles("text", shingle_n)
    jac = (
        "round(len(list_intersect(t.sh, e.sh))::DOUBLE"
        " / (len(t.sh) + len(e.sh) - len(list_intersect(t.sh, e.sh))), 6)"
    )
    return f"""
    WITH train_ AS (SELECT * FROM {table} WHERE NOT ({eval_pred})),
    eval_ AS (SELECT * FROM {table} WHERE {eval_pred}),
    tsigs AS ({sig}),
    esigs AS ({esig}),
    tbands AS ({band_sel('tsigs')}),
    ebands AS ({band_sel('esigs')}),
    cand AS (
      SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
      FROM tbands t JOIN ebands e
        ON t.band_id = e.band_id AND t.band_key = e.band_key
    ),
    tsets AS (SELECT doc_id, {sh} AS sh FROM train_),
    esets AS (SELECT doc_id, {sh} AS sh FROM eval_),
    scored AS (
      SELECT c.doc_id,
             CAST(count(*) AS INTEGER) AS n_eval_matches,
             max({jac}) AS max_eval_jaccard
      FROM cand c
      JOIN tsets t ON t.doc_id = c.doc_id
      JOIN esets e ON e.doc_id = c.eval_id
      WHERE {jac} >= {threshold}
      GROUP BY c.doc_id
    )
    SELECT tr.doc_id,
           coalesce(s.n_eval_matches, 0) AS n_eval_matches,
           coalesce(s.max_eval_jaccard, 0.0) AS max_eval_jaccard,
           coalesce(s.n_eval_matches, 0) > 0 AS contaminated
    FROM train_ tr LEFT JOIN scored s ON s.doc_id = tr.doc_id
    """


# -- Leakage-free split: near-dup clusters assigned atomically ---------------

def cluster_safe_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Train/val/test split that can NOT leak near-duplicates across
    the boundary: documents are first clustered
    (:func:`dedup_clusters`), then each CLUSTER — not each document —
    is hashed into a split, so every member of a near-dup cluster
    lands on the same side. A per-document hash split (
    :func:`webhookdb_spark.operators.sampling.corpus_split`) scatters
    a duplicate pair across train/test with probability
    2·p·(1-p) per pair — the textbook eval-contamination bug this
    operator exists to close.

    Output: ``(doc_id, cluster_id, split)``; deterministic on every
    engine (cluster id = min doc id of the component, split from the
    salted md5 of the cluster id — the same 28-bit discipline as the
    sampling family, salted differently so it is independent of any
    doc-level sample drawn before or after).

    100 TB shape: cost is the dedup clustering itself (band joins +
    contraction CC, both hash-partitioned); the split assignment adds
    ZERO shuffles — it is a map over the labeled table.
    """
    from webhookdb_spark.operators.sampling import _bucket28

    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    labeled = dedup_clusters(
        df, None, text_col, id_col, n_hashes, bands, shingle_n, threshold
    )
    bucket = _bucket28(F.col("cluster_id"), "csplit:")
    expr: Column | None = None
    acc = 0.0
    items = list(weights.items())
    for name, wt in items[:-1]:
        acc += wt / total
        cutoff = int(acc * float(1 << 28))
        cond = bucket < F.lit(cutoff)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    expr = (
        F.lit(items[0][0]) if expr is None else expr.otherwise(F.lit(items[-1][0]))
    )
    return labeled.select("doc_id", "cluster_id", expr.alias("split"))


def sql_cluster_safe_split(
    table: str = "documents",
    weights: dict[str, float] | None = None,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> str:
    """DuckDB twin of :func:`cluster_safe_split`: the
    :func:`sql_dedup_clusters` recursive CTE, then the identical
    salted-hash cutoff cascade on ``cluster_id``."""
    from webhookdb_spark.operators.sampling import _sql_bucket28

    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    clusters = sql_dedup_clusters(table, n_hashes, bands, shingle_n, threshold)
    b = _sql_bucket28("cluster_id", "csplit:")
    acc = 0.0
    cases = []
    items = list(weights.items())
    for name, wt in items[:-1]:
        acc += wt / total
        cases.append(f"WHEN {b} < {int(acc * float(1 << 28))} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{items[-1][0]}' END"
    return f"""
    WITH clusters AS ({clusters})
    SELECT doc_id, cluster_id, {case} AS split
    FROM clusters
    """


def remove_duplicate_spans(
    df: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact duplicate-span REMOVAL with text reconstruction (the
    rewrite stage of Lee et al. 2022's exact substring deduplication;
    :func:`span_novelty` only scores). Returns one row per document:
    (doc_id, n_tokens, n_kept, n_removed, clean_text) where every
    occurrence of a corpus-duplicated ``k``-token window EXCEPT the
    globally first one (smallest (doc_id, start) — same-doc repeats
    count, matching span_novelty's posture) has its token range
    removed, overlapping ranges union, and ``clean_text`` is the
    surviving tokens re-joined in order.

    100 TB shape: the only corpus-sized shuffle keys the 32-byte md5
    window hash (to rank occurrences); removed-range positions are
    loser-sized, aggregated per doc into a covered-position set, and
    the rewrite is a doc-keyed join + one narrow array filter — the
    full token stream is never re-shuffled or re-aggregated. Skewed
    boilerplate hashes are AQE's skew-split case.
    """
    b = bind(
        scale_out(df.select("doc_id", text_col)),
        "_t",
        tokens(F.col(text_col)),
    ).select("doc_id", "_t")
    wins = (
        b.where(F.size("_t") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - k),
                    lambda i: F.md5(F.array_join(F.slice("_t", i + 1, k), " ")),
                )
            ).alias("pos", "h"),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    losers = (
        wins.select("doc_id", "pos", F.row_number().over(w).alias("_r"))
        .where(F.col("_r") > 1)
    )
    cov = (
        losers.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("cpos").alias("_cov"))
    )
    kept = F.expr(
        "CASE WHEN _cov IS NULL THEN _t ELSE"
        " filter(transform(_t, (x, i) ->"
        " IF(array_contains(_cov, i), CAST(NULL AS STRING), x)),"
        " x -> x IS NOT NULL) END"
    )
    return (
        b.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_t").cast("long").alias("n_tokens"),
            F.size(kept).cast("long").alias("n_kept"),
            (F.size("_t") - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def sql_remove_duplicate_spans(table: str = "documents", k: int = 8) -> str:
    """DuckDB twin of :func:`remove_duplicate_spans` — same windows,
    same global (doc_id, pos) first-occurrence rank; the rewrite takes
    the explode / anti-join / ordered string_agg route (independent
    plan, identical values)."""
    t = SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS tk FROM {table}
    ), wins AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             md5(array_to_string(tk[CAST(i AS INTEGER):CAST(i + {k} - 1 AS INTEGER)], ' ')) AS h
      FROM toks, unnest(range(1, len(tk) - {k} + 2)) AS t2(i)
      WHERE len(tk) >= {k}
    ), losers AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r
        FROM wins
      ) WHERE r > 1
    ), cov AS (
      SELECT DISTINCT doc_id, pos + u AS cpos
      FROM losers, unnest(range(0, {k})) AS t3(u)
    ), tpos AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[CAST(i AS INTEGER)] AS tok
      FROM toks, unnest(range(1, len(tk) + 1)) AS t4(i)
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM cov c WHERE c.doc_id = tp.doc_id AND c.cpos = tp.pos
      )
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM (SELECT doc_id, len(tk) AS n FROM toks) b
    LEFT JOIN agg a USING (doc_id)
    """
