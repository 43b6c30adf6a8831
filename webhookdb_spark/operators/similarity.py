"""Similarity search over an embedding column (``array<float>``).

Two tiers, as a real 100 TB pipeline needs:

- **Brute-force cosine top-k** — the exactness baseline. Query side is
  broadcast (a handful of probe vectors), corpus side streams through a
  single narrow stage: no shuffle except the final per-query top-k
  (a tiny groupBy over k·|queries| rows after local pruning via window).
  All arithmetic native (``zip_with`` + ``aggregate``), no UDF.
- **LSH-bucketed (random hyperplane / sign) ANN** — the scale path.
  Hyperplane directions are derived deterministically from md5 so the
  index is reproducible across runs and engines. Candidates share a
  sign-signature bucket; exact cosine re-ranks within the bucket. At
  100 TB the bucket join replaces the full scan with a hash join on the
  signature — the same shape as dedup.lsh_candidate_pairs.

Cosine results are rounded to 6 places and tie-broken by vec_id so
rankings are engine-portable (see tests / oracle twins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webhookdb_spark.operators.util import bind, lit_doubles, scale_out, sql_doubles
from webhookdb_spark.storage import read_json, write_atomic


# -- vector arithmetic as Spark-SQL text --------------------------------------
# The ANN operators compose deep higher-order expressions (fold dots,
# norms, per-cell scores, ADC LUTs) around data-derived literals. Built
# through the Column API that costs one py4j round-trip per operator
# (~0.13-0.5 ms), and the Lloyd train loops rebuild them each iteration
# with FRESH literals, so memoization never hits there. Rendering the
# expression as Spark-SQL text (pure Python string work) and parsing it
# with ONE F.expr call yields the same Cast/Multiply/aggregate tree the
# Column API would, pinned by the ANN family's full value-hash oracles
# (guide §5 driver work). :func:`_l2sq` and :func:`_dot_pre` stay
# Column builders because they run inside ``transform`` lambdas, where
# a text rendering cannot reach; their SQL twins mirror them EXACTLY
# (casts included) so fold order and rounding are bit-identical.

def _sqdot(a: str, b: str) -> str:
    """Dot product of two numeric arrays, each element cast to DOUBLE
    and folded left to right from 0.0."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def _sqdot_pre(a: str, b: str) -> str:
    """SQL twin of :func:`_dot_pre` (both sides already DOUBLE)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x)"
    )


def _sqnorm(a: str) -> str:
    """L2 norm of a numeric array: sqrt of the left fold of its
    DOUBLE-cast squares (the fold order :func:`_sqdot` uses)."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
    )


def _sql2sq(a: str, b: str) -> str:
    """SQL twin of :func:`_l2sq` (inputs already DOUBLE, no casts)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _sqcos(a: str, b: str) -> str:
    """Cosine similarity rounded to 6 places, defined as 0.0 when either
    vector has zero norm (a degenerate-but-real corpus case:
    zeroed/padded embeddings; found by the round-5 property test — ANSI
    Spark throws DIVIDE_BY_ZERO while DuckDB's double division silently
    yields NULL, so BOTH engines need the explicit convention)."""
    na, nb = _sqnorm(a), _sqnorm(b)
    return (
        f"round(CASE WHEN ({na} * {nb}) = 0.0D THEN 0.0D "
        f"ELSE {_sqdot(a, b)} / ({na} * {nb}) END, 6)"
    )


def _cos_named(a: str, b: str) -> Column:
    """:func:`_sqcos` over two NAMED columns, memoized — the tree binds
    by name at analysis time, so one parse serves every caller (guide
    §5; the value pinned by the ANN family's value-hash oracles)."""
    from webhookdb_spark.operators.util import memo_col

    return memo_col(
        ("cos_named", a, b), lambda: F.expr(_sqcos(f"`{a}`", f"`{b}`"))
    )


def _norm_named(c: str) -> Column:
    """:func:`_sqnorm` of a NAMED column, memoized (see :func:`_cos_named`)."""
    from webhookdb_spark.operators.util import memo_col

    return memo_col(("norm_named", c), lambda: F.expr(_sqnorm(f"`{c}`")))


def _cos_pre_named(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine with PRE-computed norm columns ``na``/``nb`` (the hoisted
    per-row-norm form the probe paths use), memoized by the four names.
    Mirrors the inline Column tree exactly: round(CASE 0-denom guard,
    dot/denom, 6)."""
    from webhookdb_spark.operators.util import memo_col

    return memo_col(
        ("cos_pre_named", a, b, na, nb),
        lambda: F.expr(
            f"round(CASE WHEN (`{na}` * `{nb}`) = 0.0D THEN 0.0D "
            f"ELSE {_sqdot(f'`{a}`', f'`{b}`')} / (`{na}` * `{nb}`) END, 6)"
        ),
    )


def embed_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(train_id, eval_id, cosine_sim): training vectors semantically
    CONTAMINATED by an eval/benchmark vector — rounded cosine ≥
    ``threshold``, keeping each train vector's single best match
    (ties → lowest eval id). The third decontamination tier after
    exact n-gram overlap (``source_span_leakage``) and shingle-Jaccard
    (``fuzzy_decontaminate``): embedding cosine catches paraphrase /
    translation / re-template leakage with little or no lexical
    overlap (the reason eval sets leak past string-matching filters).

    Scale shape (same posture as :func:`cosine_topk`): the eval side
    is a benchmark — metadata-sized BY CONSTRUCTION (thousands of
    rows, not a corpus) — so it broadcasts and the pairing is a
    map-side nested loop fused into the train scan: zero shuffles
    until the already-thresholded (tiny) match stream hits the
    per-train-id best-match window. Cosine is the shared fold
    expression (sequential double accumulation, rounded to 6dp), so
    the oracle's arithmetic is bit-matched.
    """
    # Hoist each side's norm to a per-ROW column so the per-PAIR work
    # is ONE dot fold instead of three (dot + both norms re-folded
    # pair-wise) — same arithmetic chain, measured ~3x on the sf0.1
    # fixture. The oracle twin hoists identically in CTEs.
    # The |eval|-way nested loop (one dot fold per pair) is fused into
    # the train scan; scale_out spreads it when the train input is one
    # fat file (no-op on a many-split scan at real scale).
    t = scale_out(train.select(id_col, vec_col)).select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("t_vec"),
        _norm_named(vec_col).alias("t_norm"),
    )
    e = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("e_vec"),
        _norm_named(vec_col).alias("e_norm"),
    )
    cos = _cos_pre_named("t_vec", "e_vec", "t_norm", "e_norm")
    hits = (
        t.crossJoin(F.broadcast(e))
        .select("train_id", "eval_id", cos.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= F.lit(threshold))
    )
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine_sim").desc(), F.col("eval_id").asc()
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("train_id", "eval_id", "cosine_sim")
    )


def sql_embed_decontaminate(
    train_sql: str, eval_sql: str, threshold: float = 0.9
) -> str:
    """DuckDB twin of :func:`embed_decontaminate`. ``train_sql`` /
    ``eval_sql`` are subqueries projecting (vec_id, embedding). Norms
    hoist to per-row CTE columns exactly like the Spark side."""
    nrm = ("sqrt(list_sum(list_transform(embedding,"
           " x -> x::DOUBLE * x::DOUBLE)))")
    dot = ("list_sum(list_transform(range(1, len(e.embedding) + 1),"
           " i -> t.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))")
    # Ragged-dimension guard: DuckDB's list_sum SKIPS the NULL
    # out-of-bounds terms of a length-mismatched pair (a partial
    # cosine), while the Spark fold NULL-propagates and the threshold
    # excludes the pair — NULL the mismatch here so both engines drop
    # it identically.
    return f"""
    WITH t AS (
      SELECT vec_id, embedding, {nrm} AS nrm FROM ({train_sql})
    ), e AS (
      SELECT vec_id, embedding, {nrm} AS nrm FROM ({eval_sql})
    ), hits AS (
      SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
             round(CASE WHEN len(t.embedding) != len(e.embedding) THEN NULL
                   WHEN t.nrm * e.nrm = 0 THEN 0.0
                   ELSE {dot} / (t.nrm * e.nrm) END, 6) AS cosine_sim
      FROM t, e
    ), thresholded AS (
      SELECT * FROM hits WHERE cosine_sim >= {threshold}
    ), best AS (
      SELECT train_id, eval_id, cosine_sim,
             row_number() OVER (PARTITION BY train_id
                                ORDER BY cosine_sim DESC, eval_id ASC) AS rn
      FROM thresholded
    )
    SELECT train_id, eval_id, cosine_sim FROM best WHERE rn = 1
    """


def _decon_probes(
    spark,
    cents: list[list[float]],
    eval_df: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(eval_id, q_vec, cent_id, e_norm): each eval vector's ``nprobe``
    nearest cells (rounded cosine, ties → lowest cent_id), its vector,
    and its hoisted norm. Built ONCE and shared between the pruning
    collect and the candidate join."""
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    q = (
        eval_df.select(
            F.col(id_col).alias("eval_id"), F.col(vec_col).alias("q_vec")
        )
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cscore", _cos_named("q_vec", "cent_vec"))
    )
    pw = Window.partitionBy("eval_id").orderBy(
        F.col("cscore").desc(), F.col("cent_id").asc()
    )
    # e_norm hoists to a per-ROW column here (the same ~3x lesson as
    # embed_decontaminate) so the per-PAIR work downstream is one dot
    # fold; round(dot/(t_norm*e_norm), 6) is the identical arithmetic
    # chain to :func:`_sqcos`'s inline form.
    return (
        q.withColumn("prank", F.row_number().over(pw))
        .where(F.col("prank") <= nprobe)
        .select("eval_id", "q_vec", "cent_id",
                _norm_named("q_vec").alias("e_norm"))
    )


def _decon_probe_pairs(
    assigned: DataFrame,
    probes: DataFrame,
    threshold: float,
    broadcast_probes: bool = False,
) -> DataFrame:
    """Shared tail of the IVF decontamination pair: candidates are
    (train, eval) rows sharing a probed cell, exact rounded cosine
    thresholds them, and the per-train-id best-match window picks one
    eval per train (ties → lowest eval id). ``assigned`` is
    (vec_id, c_vec, cent_id) from :func:`ivf_assign` or a
    partition-pruned index read; ``probes`` from :func:`_decon_probes`.
    """
    t = assigned.withColumn("t_norm", _norm_named("c_vec"))
    cos = _cos_pre_named("c_vec", "q_vec", "t_norm", "e_norm")
    # Each train vector lives in exactly one cell and an eval probes
    # distinct cells, so the join cannot duplicate (train, eval) pairs.
    # No hint by default: the corpus-sized-eval case this operator
    # exists for must be free to shuffle-hash-join on cent_id instead
    # of forcing |eval|·nprobe vectors through the driver. Pass
    # broadcast_probes=True when the eval side is known benchmark-sized
    # (pins BuildRight on the small side; AQE can otherwise choose to
    # broadcast the TRAIN side at toy scale).
    paired = t.join(
        F.broadcast(probes) if broadcast_probes else probes, on="cent_id")
    hits = paired.select(
        F.col("vec_id").alias("train_id"),
        "eval_id",
        cos.alias("cosine_sim"),
    ).where(F.col("cosine_sim") >= F.lit(threshold))
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine_sim").desc(), F.col("eval_id").asc()
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("train_id", "eval_id", "cosine_sim")
    )


def embed_decontaminate_ivf(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    broadcast_probes: bool = False,
) -> DataFrame:
    """(train_id, eval_id, cosine_sim): the corpus-scale variant of
    :func:`embed_decontaminate` — same output contract (best eval
    match per contaminated train vector, rounded cosine ≥ threshold,
    ties → lowest eval id) with IVF-celled candidate generation
    instead of the brute train×eval nested loop.

    Why this exists: the brute form is linear in train but ×|eval| per
    row — fine for a benchmark-sized eval set, quadratic pain once the
    eval side is itself corpus-sized (dedup-against-a-held-out-corpus,
    multi-benchmark unions). Here the TRAIN corpus is assigned to
    coarse cells by one narrow literal-centroid map (no join, no
    shuffle — :func:`ivf_assign`), each EVAL vector probes its
    ``nprobe`` nearest cells, and only co-celled pairs are scored:
    per train row the expected work is |eval|·nprobe/C cosines, not
    |eval|. Deterministic end-to-end (seed + fixed-point Lloyd +
    rounded scores + fixed tie-breaks), so it carries a full
    value-hash oracle like the rest of the IVF family.

    Recall contract (documented, mirrored by the SQL twin): a
    contaminated pair is found iff the eval vector's probes cover the
    train vector's argmax cell. Scaled/exact copies are cosine-
    identical to their eval source, so they share the argmax cell by
    construction and nprobe≥1 recovers them — the planted-leakage
    class exact-dup hashing misses and this operator exists to catch.
    Paraphrase-level neighbors follow the usual IVF recall/nprobe
    trade. ``sample_fraction`` routes Lloyd refinement to the
    deterministic hash-sample (the 100 TB path of
    :func:`ivf_refine`)."""
    cents = ivf_centroids(train, n_centroids, id_col, vec_col)
    for _ in range(n_refine):
        cents = ivf_refine(train, cents, id_col, vec_col, sample_fraction)
    assigned = ivf_assign(train, cents, id_col, vec_col)
    probes = _decon_probes(
        train.sparkSession, cents, eval_df, nprobe, id_col, vec_col)
    return _decon_probe_pairs(
        assigned, probes, threshold, broadcast_probes=broadcast_probes)


def decontaminate_ivf_index(
    spark,
    path: str,
    eval_df: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = False,
) -> DataFrame:
    """:func:`embed_decontaminate_ivf` against a persisted
    :func:`write_ivf_index` directory: the sidecar centroids ARE the
    trained quantizer, and the corpus-side work is a partition-pruned
    read of the probed cells only — at 100 TB the decontamination scan
    touches ``≤ |probed cells|/C`` of the index by directory pruning
    alone, and the index amortizes across eval-set releases."""
    import json
    from pathlib import Path

    from pyspark.sql import types as _T

    meta = read_json(Path(path) / "_ivf_meta.json")
    cents = meta["centroids"]
    # One probe ranking, shared by the pruning collect and the
    # candidate join (query_ivf_index does the same) — persisted so
    # the collect does not recompute the |eval|×C cosine pass.
    probes = _decon_probes(
        spark, cents, eval_df, nprobe, id_col, vec_col).persist()
    # JUSTIFIED COLLECT: ≤ n_centroids cell ids — metadata-sized, and
    # the literal IN list is what turns into parquet directory pruning
    cells = sorted(
        r.cent_id for r in probes.select("cent_id").distinct().collect())
    read_schema = _T.StructType.fromJson(json.loads(meta["schema"]))
    assigned = (
        spark.read.schema(read_schema).parquet(path)
        .where(F.col("cent_id").isin(cells))
    )
    return _decon_probe_pairs(
        assigned, probes, threshold, broadcast_probes=broadcast_probes)


def sql_embed_decontaminate_ivf(
    train_sql: str,
    eval_sql: str,
    threshold: float = 0.9,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_refine: int = 1,
) -> str:
    """DuckDB twin of :func:`embed_decontaminate_ivf` — identical seed
    rule, ``n_refine`` unrolled fixed-point Lloyd iterations, probe
    ranking, rounded cosine, and tie-breaks. ``train_sql`` /
    ``eval_sql`` are subqueries projecting (vec_id, embedding). The
    hits CTE carries the same ragged-dimension NULL guard as
    :func:`sql_embed_decontaminate` — without it DuckDB's list_sum
    skips the out-of-bounds terms of a length-mismatched pair and
    scores a partial cosine the Spark fold NULL-drops."""
    cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _SQL_COS.format(a="q.embedding", b="c.cvec")
    cos_tq = (
        "CASE WHEN len(a.embedding) != len(p.q_vec) THEN NULL ELSE "
        + _SQL_COS.format(a="a.embedding", b="p.q_vec")
        + " END"
    )
    layers, cent_final = _sql_ivf_layers(
        f"({train_sql})", n_centroids, n_refine)
    return f"""
    WITH {",".join(layers)},
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM ({train_sql}) e CROSS JOIN {cent_final} c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT eval_id, q_vec, cent_id FROM (
        SELECT q.vec_id AS eval_id, q.embedding AS q_vec, c.cent_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_qc} DESC, c.cent_id ASC) AS rn
        FROM ({eval_sql}) q CROSS JOIN {cent_final} c
      ) WHERE rn <= {nprobe}
    ),
    hits AS (
      SELECT a.vec_id AS train_id, p.eval_id, {cos_tq} AS cosine_sim
      FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
      WHERE {cos_tq} >= {threshold}
    ),
    best AS (
      SELECT train_id, eval_id, cosine_sim,
             row_number() OVER (PARTITION BY train_id
                                ORDER BY cosine_sim DESC, eval_id ASC) AS rn
      FROM hits
    )
    SELECT train_id, eval_id, cosine_sim FROM best WHERE rn = 1
    """


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` is expected to be small — it is broadcast, making the
    pairing a map-side nested loop over the corpus scan (no shuffle),
    followed by a per-query window top-k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
    paired = c.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    scored = paired.select(
        "query_id",
        "vec_id",
        _cos_named("q_vec", "c_vec").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def sql_cosine_topk(
    table: str = "embeddings", query_pred: str = "vec_id < 3", k: int = 5
) -> str:
    """DuckDB oracle twin of :func:`cosine_topk`.

    Computes the dot/norms explicitly in double precision (matching the
    Spark arithmetic) rather than using list_cosine_similarity (which
    works in float32); rounding to 6 places absorbs any residual
    last-bit noise.
    """
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_vec FROM {table} WHERE {query_pred}
    ),
    pairs AS (
      SELECT q.query_id, c.vec_id,
             {_SQL_COS.format(a="q.q_vec", b="c.embedding")} AS cosine_sim
      FROM {table} c, q
      WHERE c.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
      FROM pairs
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= {k}
    """


# -- LSH (random hyperplane) ANN -------------------------------------------

def _plane_component(plane: int, dim: int, tag: str = "plane") -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1),
    derived from md5 — reproducible across engines and runs. ``tag``
    namespaces independent plane families (LSH signatures vs
    random-projection bases must not share geometry)."""
    import hashlib

    h = hashlib.md5(f"{tag}:{plane}:{dim}".encode()).hexdigest()
    return (int(h[:8], 16) / 0x80000000) - 1.0


def hyperplanes(
    n_planes: int, n_dims: int, tag: str = "plane"
) -> list[list[float]]:
    return [
        [_plane_component(p, d, tag) for d in range(n_dims)]
        for p in range(n_planes)
    ]


def plane_dots(vec: Column, planes: list[list[float]]) -> Column:
    """All plane dot products as ONE array expression: the planes enter
    as a single array-of-arrays literal walked by one generic lambda, so
    the expression tree is constant-size regardless of plane count
    (the same codegen-shape trick as :func:`ivf_assign`'s centroids —
    32 separate per-plane aggregates compile a ~planes×dims node tree
    and ran ~6× slower end-to-end). Dots are rounded to 6 places so
    sign decisions are engine-portable."""
    planes_lit = lit_doubles([list(p) for p in planes])
    return F.transform(
        planes_lit,
        lambda p: F.round(
            F.aggregate(
                F.zip_with(vec, p, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )


def sign_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-string signature: bit p = 1 iff round(vec · plane_p, 6) > 0."""
    return F.array_join(
        F.transform(
            plane_dots(vec, planes),
            lambda d: F.when(d > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )


def sign_signature_udf(planes: list[list[float]]):
    """Arrow-vectorized twin of :func:`sign_signature` for wide plane
    sets: one numpy matrix product per batch instead of planes×dims
    interpreted lambda evaluations per row.

    JUSTIFIED UDF: higher-order Column functions evaluate interpreted
    (outside whole-stage codegen), so a 32-plane × 64-dim signature
    costs ~2k scalar lambda invocations per row — measured ~6× slower
    than this kernel at sf0.1. Batch matmul through BLAS is the one
    linear-algebra shape the native expression layer genuinely cannot
    match. Engine parity: dots are float64 and rounded to 6 places like
    the Column/SQL twins; numpy's pairwise summation can differ from the
    left-fold only in the last ulp, which flips a sign bit only for a
    dot within ~1e-15 of zero (probability ~0 for real-valued data, and
    the oracle-parity suite would catch it).
    """
    import pandas as pd

    def _sig(vecs):
        import numpy as np

        M = np.asarray(planes, dtype=np.float64).T  # dims × planes
        if not len(vecs):
            return pd.Series([], dtype="object")
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = np.round(V @ M, 6) > 0
        return pd.Series(["".join("1" if b else "0" for b in row) for row in bits])

    # real (non-stringified) annotations: the module-level
    # `from __future__ import annotations` would otherwise hand
    # pandas_udf unevaluated strings it cannot interpret
    _sig.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_sig, "string")


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 4,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table, multiprobe sign-LSH: a
    candidate is any vector sharing a bucket with the query in ANY of
    the ``n_tables`` independent hash tables, where each table probes
    the exact bucket plus (with ``multiprobe``) its ``n_planes``
    hamming-1 neighbors. Exact cosine re-ranks the candidates.

    Both knobs are the standard recall levers: hamming-1 multiprobe
    ×(1+n_planes) and four OR'd tables ×4 (28 probed buckets at the
    defaults) trade probe cost for recall. The 6-bit default is sized
    for the HARD regime — structureless vectors where the true top-k
    sit at cosine ≈0.3, so each sign bit agrees with only p = 1 - θ/π
    ≈ 0.6: per-table hit ≈ p^6 + 6(1-p)p^5 ≈ 0.23, OR of 4 tables
    ≈ 0.65 (8-bit tables measured 0.32 mean recall@5 on the random
    fixture — the floor test pins ≥0.6). Clustered real embeddings sit
    at higher cosine where the same knobs probe far fewer rows. Everything stays a hash
    join on (table_id, sig) — never a scan. Signatures use ROUNDED dots
    (6 places, like :func:`sign_bits`), so bucket membership — and
    hence the whole result — is deterministic and engine-portable: this
    ANN carries a full value-hash oracle (:func:`sql_ann_topk_lsh`).

    Candidates travel as (query_id, vec_id) pairs only and are
    distinct'd before vectors re-join for scoring (same shape as
    :func:`embedding_near_dup_pairs`), so the cross-table dedup never
    shuffles vector payloads. At 100 TB the corpus is written
    ``n_tables``× bucketed by (table_id, sig); each query reads
    ``n_tables × (1 + n_planes)`` buckets.
    """
    from webhookdb_spark.operators.util import bind

    if n_dims is None:  # one driver action — pass n_dims to skip it
        n_dims = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(n_planes * n_tables, n_dims)

    sig_kernel = sign_signature_udf(planes)

    def with_sig(df: DataFrame, id_alias: str) -> DataFrame:
        # the full bit string is computed ONCE per row (Arrow-batched
        # matmul kernel — see sign_signature_udf's justification); the
        # per-table signatures below are cheap substrings of that
        # attribute, not re-evaluations of the plane dots
        return bind(
            df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias("_v")),
            "_sig",
            sig_kernel(F.col("_v")),
        )

    # Table/probe expansion is GENERIC — explode over position sequences
    # with one substring/flip expression — rather than an array of
    # n_tables*(1+n_planes) per-probe struct expressions. The result is
    # identical; the expression tree is constant-size in both knobs, so
    # Catalyst analysis + codegen (paid on every execution) stays flat
    # as tables/probes grow.
    tbl = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("tbl")
    tsig = F.col("_sig").substr(
        F.col("tbl") * n_planes + 1, F.lit(n_planes)
    )

    c_sigs = (
        with_sig(corpus, "vec_id")
        .select("vec_id", "_sig", tbl)
        .select("vec_id", "tbl", tsig.alias("sig"))
    )

    # probe position 0 = the exact bucket; position p>=1 = hamming-1
    # neighbor with bit p flipped
    last_probe = n_planes if multiprobe else 0
    probe_pos = F.explode(F.sequence(F.lit(0), F.lit(last_probe))).alias("p")
    flipped = F.concat(
        tsig.substr(F.lit(1), F.col("p") - 1),
        F.when(tsig.substr(F.col("p"), F.lit(1)) == "1", F.lit("0")).otherwise(
            F.lit("1")
        ),
        tsig.substr(F.col("p") + 1, F.lit(n_planes)),
    )
    # q_vec rides the (small, broadcast) probe side so scoring needs no
    # second broadcast join back to the queries — one fewer job; the
    # duplication is bounded by |queries| * n_tables * (1 + n_planes)
    # rows, which is broadcast-sized by construction.
    q_probes = (
        with_sig(queries, "query_id")
        .select("query_id", F.col("_v").alias("q_vec"), "_sig", tbl)
        .select("query_id", "q_vec", "tbl", "_sig", probe_pos)
        .select(
            "query_id",
            "q_vec",
            "tbl",
            F.when(F.col("p") == 0, tsig).otherwise(flipped).alias("sig"),
        )
    )
    # multiprobe hits the same (query, vector) pair through several
    # buckets: aggregate on the pair (one shuffle, replaces distinct)
    # and keep q_vec via first() so only IDs + the already-broadcast
    # query vector travel
    cand = (
        c_sigs.join(F.broadcast(q_probes), on=["tbl", "sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.first("q_vec").alias("q_vec"))
    )
    cv = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cand.join(cv, on="vec_id")
        .select(
            "query_id",
            "vec_id",
            _cos_named("q_vec", "c_vec").alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def sql_ann_topk_lsh(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 4,
    multiprobe: bool = True,
    n_dims: int = 64,
) -> str:
    """DuckDB twin of :func:`ann_topk_lsh`: identical md5-derived plane
    constants, rounded dots, table split, hamming-1 probe set, and
    tie-breaks."""
    planes = hyperplanes(n_planes * n_tables, n_dims)
    values = ",\n      ".join(
        f"({p}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for p, plane in enumerate(planes)
    )
    cos_qv = _SQL_COS.format(a="q.embedding", b="e.embedding")
    # per-table signature = substr of the concatenated bit string
    tbl_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, substr(sig, {1 + t * n_planes}, {n_planes}) AS sig FROM sigs"
        for t in range(n_tables)
    )
    probe_src = "SELECT query_id, tbl, sig AS probe FROM qsigs"
    if multiprobe:
        probe_src += f"""
      UNION ALL
      SELECT query_id, tbl,
             substr(sig, 1, CAST(r.range AS INTEGER))
             || (CASE WHEN substr(sig, CAST(r.range AS INTEGER) + 1, 1) = '1'
                      THEN '0' ELSE '1' END)
             || substr(sig, CAST(r.range AS INTEGER) + 2) AS probe
      FROM qsigs CROSS JOIN range({n_planes}) r"""
    return f"""
    WITH planes(plane_id, pvec) AS (VALUES
      {values}
    ),
    dots AS (
      SELECT e.vec_id, p.plane_id,
             round(list_sum(list_transform(range(1, {n_dims} + 1),
                    i -> e.embedding[i]::DOUBLE * p.pvec[i])), 6) AS dot
      FROM {table} e CROSS JOIN planes p
    ),
    sigs AS (
      SELECT vec_id,
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY plane_id) AS sig
      FROM dots GROUP BY vec_id
    ),
    tsigs AS (
      {tbl_rows}
    ),
    qsigs AS (
      SELECT vec_id AS query_id, tbl, sig FROM tsigs WHERE {query_pred}
    ),
    probes AS (
      {probe_src}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, s.vec_id
      FROM probes p JOIN tsigs s ON s.tbl = p.tbl AND s.sig = p.probe
      WHERE s.vec_id != p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id, {cos_qv} AS cosine_sim
      FROM cand c
      JOIN {table} q ON q.vec_id = c.query_id
      JOIN {table} e ON e.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
      SELECT query_id, vec_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def ann_lsh_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
) -> DataFrame:
    """Self-check for the approximate operator: recall@k of
    :func:`ann_topk_lsh` against the exact :func:`cosine_topk`, per
    query. Both sides are deterministic, so recall itself is
    deterministic and carries a full oracle — rare for an ANN."""
    exact = cosine_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "vec_id"
    )
    approx = ann_topk_lsh(
        corpus, queries, k, n_planes=n_planes, id_col=id_col, vec_col=vec_col,
        n_dims=n_dims,
    ).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    qs = queries.select(F.col(id_col).alias("query_id"))
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(k)), 6).alias(
            "recall_at_k"
        ),
    )


def sql_ann_lsh_recall(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    n_planes: int = 6,
    n_dims: int = 64,
) -> str:
    """DuckDB twin of :func:`ann_lsh_recall`."""
    exact = sql_cosine_topk(table, query_pred, k)
    approx = sql_ann_topk_lsh(table, query_pred, k, n_planes=n_planes, n_dims=n_dims)
    return f"""
    WITH exact AS ({exact}),
    approx AS ({approx}),
    hits AS (
      SELECT e.query_id, count(*) AS hits
      FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    )
    SELECT q.vec_id AS query_id,
           round(coalesce(h.hits, 0) / {float(k)}, 6) AS recall_at_k
    FROM {table} q LEFT JOIN hits h ON q.vec_id = h.query_id
    WHERE {query_pred}
    """


# -- IVF (inverted-file) ANN -------------------------------------------------

def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Seed coarse-quantizer centroids: the ``n_centroids`` lowest-id
    vectors — deterministic and engine-reproducible (the DuckDB oracle
    derives the identical set with ``ORDER BY vec_id LIMIT C``).
    Refine with :func:`ivf_refine` (deterministic Lloyd) before use;
    raw seeds give unbalanced cells."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


_FIX_SCALE = 1_000_000


def ivf_refine(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """One deterministic Lloyd iteration: assign every vector to its
    nearest centroid (same rounded-cosine + lowest-cent-id rule as
    :func:`ivf_assign`), then move each centroid to its cell's mean.

    The mean is computed in FIXED POINT — per dimension,
    ``floor(sum(floor(x * 1e6)) / n) / 1e6`` — because a double-sum
    mean is order-sensitive in its low bits and the DuckDB twin could
    round-to-6 across a tie; int64 sums and floor-division are exact
    and identical in any engine. Empty cells keep their centroid.

    Plan shape: one narrow assignment map (centroids as literals, no
    join) + posexplode + a (cent_id, pos)-keyed aggregate whose
    map-side combine reduces each task to C×dims partial rows before
    the shuffle; the collect is C×dims rows — metadata-sized. (A
    64-wide per-dimension-sum aggregate avoiding the explode was
    measured 1.6× SLOWER at sf0.1 — the narrow exploded agg stays in
    vectorized codegen where 65 aggregate buffers do not.) At 100 TB
    you would run this on a deterministic hash-sample of the corpus
    (hash_fraction_sample); the aggregate is partial-agg friendly
    either way.

    ``sample_fraction`` IS that 100 TB path: refine on the
    deterministic md5-bucket sample instead of the full corpus. The
    sample is a pure map-side filter, reproducible in any engine, so
    an oracle twin can refine on the identical subset.
    """
    dims = len(centroids[0])
    if sample_fraction is not None:
        from webhookdb_spark.operators.sampling import hash_fraction_sample

        corpus = hash_fraction_sample(corpus, sample_fraction, id_col=id_col)
    from webhookdb_spark.operators.util import memo_col

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    # constant trees rebuilt per Lloyd iteration — memoized (guide §5)
    means = (
        assigned.select(
            "cent_id",
            memo_col(
                ("lloyd_posx",),
                lambda: F.posexplode("c_vec").alias("pos", "x"),
            ),
        )
        .groupBy("cent_id", "pos")
        .agg(
            memo_col(
                ("lloyd_s",),
                lambda: F.sum(
                    F.floor(F.col("x").cast("double") * _FIX_SCALE).cast("long")
                ).alias("s"),
            ),
            memo_col(("lloyd_n",), lambda: F.count("*").alias("n")),
        )
        .select(
            "cent_id",
            "pos",
            memo_col(
                ("lloyd_m",),
                lambda: (F.floor(F.col("s") / F.col("n")) / _FIX_SCALE).alias(
                    "m"
                ),
            ),
        )
        .collect()
    )
    out = [list(c) for c in centroids]  # empty cells keep their centroid
    by_cell: dict[int, list[float]] = {}
    for r in means:
        by_cell.setdefault(r.cent_id, [0.0] * dims)[r.pos] = float(r.m)
    for cid, vec in by_cell.items():
        out[cid] = vec
    return out


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, c_vec, cent_id): nearest centroid by cosine (ties → the
    lowest cent_id). Centroids ride along as literals, so assignment is
    a single narrow map over the corpus — no join, no shuffle. At 100 TB
    the output is written partitioned by cent_id, which is what makes
    probing read ``nprobe/C`` of the data."""
    import math

    from webhookdb_spark.operators.util import bind, memo_col, scale_out, sql_doubles

    # The vector's norm is bound once per row; centroid norms fold to
    # Python constants (same left-fold sum as the Column expression, so
    # the resulting doubles are bit-identical). Centroids enter as ONE
    # array-of-arrays literal scored by a single generic zip_with lambda:
    # structurally constant codegen regardless of C, where a per-centroid
    # expression list recompiles a ~C×dim-node tree on every new centroid
    # set (~3× slower end-to-end at C=8). The whole score expression is
    # composed as ONE SQL string (fresh literals per Lloyd iteration
    # defeat memoization; text composition is pure Python + one parse).
    b = bind(
        scale_out(corpus.select(id_col, vec_col)),
        "_vn",
        memo_col(("ann_norm", vec_col), lambda: F.expr(_sqnorm(f"`{vec_col}`"))),
    )
    cents_sql = sql_doubles([list(c) for c in centroids])
    norms_sql = sql_doubles(
        [math.sqrt(sum(x * x for x in c)) for c in centroids]
    )
    # zero-norm guard matches :func:`_sqcos`'s 0.0 convention
    scores = F.expr(
        f"zip_with({cents_sql}, {norms_sql}, (c, nrm) -> "
        f"round(CASE WHEN (_vn * nrm) = 0.0D THEN 0.0D ELSE "
        f"{_sqdot(f'`{vec_col}`', 'c')} / (_vn * nrm) END, 6))"
    )
    b = bind(b, "_cs", scores)
    assigned = (
        F.array_position(F.col("_cs"), F.array_max(F.col("_cs"))) - 1
    ).cast("int")
    return b.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        assigned.alias("cent_id"),
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: assign corpus to coarse cells (seed centroids +
    ``n_refine`` deterministic Lloyd iterations), probe the ``nprobe``
    cells nearest each query, exact-cosine re-rank inside the probed
    cells.

    Deterministic end-to-end (rounded scores, fixed-point Lloyd means,
    fixed tie-breaks), so it carries a full value-hash oracle, unlike
    most ANN implementations.
    """
    spark = corpus.sparkSession
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    for _ in range(n_refine):
        cents = ivf_refine(corpus, cents, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cent_id int, cent_vec array<double>"
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cscore", _cos_named("q_vec", "cent_vec"))
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("cent_id").asc()
    )
    probes = (
        q.withColumn("prank", F.row_number().over(pw))
        .where(F.col("prank") <= nprobe)
        .select("query_id", "q_vec", "cent_id")
    )
    # Each corpus vector lives in exactly one cell, so the probe join
    # cannot duplicate (query, vec) pairs.
    paired = assigned.join(F.broadcast(probes), on="cent_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = paired.select(
        "query_id", "vec_id", _cos_named("q_vec", "c_vec").alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


# zero-norm guard matches :func:`_sqcos`'s 0.0 convention
_SQL_COS = (
    "round(CASE WHEN"
    " sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))) = 0"
    " THEN 0.0 ELSE"
    " list_sum(list_transform(range(1, len({b}) + 1),"
    " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
    " END, 6)"
)


def _sql_ivf_layers(
    table: str, n_centroids: int, n_refine: int
) -> tuple[list[str], str]:
    """The unrolled deterministic-Lloyd CTE layers shared by every
    IVF-family oracle: returns (layers, final_cent_table). cent0 =
    seed (lowest-id vectors); each refinement layer re-assigns against
    cent{i} and takes exact fixed-point per-dimension means (empty
    cells keep their centroid via the left-join coalesce)."""
    cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
    layers = [f"""
    cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cent_id,
             list_transform(embedding, x -> x::DOUBLE) AS cvec
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {n_centroids})
    )"""]
    for i in range(n_refine):
        layers.append(f"""
    assign{i} AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN cent{i} c
      ) WHERE rn = 1
    ),
    means{i} AS (
      SELECT cent_id, u.i AS pos,
             floor(sum(CAST(floor(a.embedding[u.i]::DOUBLE * {_FIX_SCALE}) AS BIGINT))
                   / count(*)) / {_FIX_SCALE} AS m
      FROM assign{i} a, unnest(range(1, len(a.embedding) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    cent{i + 1} AS (
      SELECT c.cent_id,
             coalesce(m.cvec, c.cvec) AS cvec
      FROM cent{i} c LEFT JOIN (
        SELECT cent_id, list(m ORDER BY pos) AS cvec FROM means{i} GROUP BY 1
      ) m ON c.cent_id = m.cent_id
    )""")
    return layers, f"cent{n_refine}"


def sql_ann_topk_ivf(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_refine: int = 1,
) -> str:
    """DuckDB twin of :func:`ann_topk_ivf` (same seed rule, the same
    ``n_refine`` unrolled fixed-point Lloyd iterations, same rounded
    scores, same tie-breaks)."""
    cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _SQL_COS.format(a="q.embedding", b="c.cvec")
    cos_qv = _SQL_COS.format(a="p.q_vec", b="a.embedding")
    layers, cent_final = _sql_ivf_layers(table, n_centroids, n_refine)
    return f"""
    WITH {",".join(layers)},
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN {cent_final} c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, q_vec, cent_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cent_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_qc} DESC, c.cent_id ASC) AS rn
        FROM {table} q CROSS JOIN {cent_final} c WHERE {query_pred}
      ) WHERE rn <= {nprobe}
    ),
    pairs AS (
      SELECT p.query_id, a.vec_id, {cos_qv} AS cosine_sim
      FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
      SELECT query_id, vec_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
      FROM pairs
    ) WHERE rank <= {k}
    """


def ivf_block_assignments(
    corpus: DataFrame,
    n_centroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    split_threshold: int | None = None,
    n_planes: int = 8,
    n_dims: int | None = None,
) -> DataFrame:
    """(vec_id, c_vec, cent_id, _sub): the blocking key assignment of
    :func:`embedding_near_dup_ivf` — argmax IVF cell plus, for cells
    whose row count exceeds ``split_threshold``, an n_planes-bit
    sign-LSH sub-key ('' elsewhere). Factored out so candidate volume
    per (cent_id, _sub) bucket is directly measurable and gateable."""
    cents = ivf_refine(corpus, ivf_centroids(corpus, n_centroids,
                                             id_col, vec_col),
                       id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    if split_threshold is None:
        return assigned.withColumn("_sub", F.lit(""))
    if n_dims is None:
        n_dims = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(n_planes, n_dims)
    # JUSTIFIED COLLECT: <= n_centroids (cent_id, count) rows.
    big = {
        r.cent_id
        for r in assigned.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > split_threshold)
        .collect()
    }
    sub = (
        F.when(
            F.col("cent_id").isin(*big),
            sign_signature(F.col("c_vec"), planes),
        ).otherwise(F.lit(""))
        if big
        else F.lit("")
    )
    return assigned.withColumn("_sub", sub)


def embedding_near_dup_ivf(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    split_threshold: int | None = None,
    n_planes: int = 8,
    n_dims: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cosine_sim): near-duplicate pairs via IVF-CELL
    blocking — candidates are pairs assigned to the same coarse cell
    (deterministic seed + one fixed-point Lloyd refine), verified with
    exact rounded cosine. The cell-bucketed counterpart of the
    sign-LSH :func:`embedding_near_dup_pairs`: LSH buckets are
    data-independent (recall falls with threshold), IVF cells adapt to
    the corpus's density (near-identical vectors share the argmax
    cell by construction — EXACT recall for exact duplicates).

    Scale: candidates per cell are |cell|²/2 and the literal-centroid
    assignment bounds how far ``n_centroids`` itself can grow, so the
    cardinality-adaptive form is ``split_threshold`` (the same
    oversize-bucket rule as fuzzy_link): cells whose row count exceeds
    it sub-key their members by an ``n_planes``-bit sign-LSH signature
    — expression-level, no extra shuffle — splitting each hot cell
    into up to 2^n_planes sub-buckets. Exact duplicates share every
    sign bit, so exact-dup recall survives the split; near-dups inside
    an oversize cell must share the full signature (the documented
    recall contract, mirrored exactly by the SQL twin). The oversize
    set is at most ``n_centroids`` rows — a metadata-sized collect."""
    assigned = ivf_block_assignments(
        corpus, n_centroids, id_col, vec_col,
        split_threshold, n_planes, n_dims,
    )
    a = assigned.select(
        F.col("cent_id"),
        F.col("_sub"),
        F.col("vec_id").alias("vec_a"),
        F.col("c_vec").alias("_va"),
    )
    b = assigned.select(
        F.col("cent_id"),
        F.col("_sub"),
        F.col("vec_id").alias("vec_b"),
        F.col("c_vec").alias("_vb"),
    )
    from webhookdb_spark.operators.util import bind

    paired = a.join(b, ["cent_id", "_sub"]).where(
        F.col("vec_a") < F.col("vec_b")
    )
    return (
        bind(paired, "cosine_sim", _cos_named("_va", "_vb"))
        .where(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", "cosine_sim")
    )


def sql_embedding_near_dup_ivf(
    table: str = "embeddings",
    threshold: float = 0.95,
    n_centroids: int = 32,
    n_refine: int = 1,
    split_threshold: int | None = None,
    n_planes: int = 8,
    n_dims: int = 64,
) -> str:
    """DuckDB twin of :func:`embedding_near_dup_ivf` — identical seed,
    unrolled Lloyd, assignment tie-breaks, oversize-cell sign-LSH
    split, and rounded cosine."""
    cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
    cos_ab = _SQL_COS.format(a="a.embedding", b="b.embedding")
    layers, cent_final = _sql_ivf_layers(table, n_centroids, n_refine)
    if split_threshold is None:
        sub_ctes = ",\n    subbed AS (SELECT *, '' AS sub FROM assigned)"
    else:
        planes = hyperplanes(n_planes, n_dims)
        values = ",\n      ".join(
            f"({p}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
            for p, plane in enumerate(planes)
        )
        sub_ctes = f""",
    planes(plane_id, pvec) AS (VALUES
      {values}
    ),
    big AS (
      SELECT cent_id FROM (
        SELECT cent_id, count(*) AS c FROM assigned GROUP BY 1
      ) WHERE c > {split_threshold}
    ),
    sigs AS (
      SELECT s.vec_id,
             string_agg(CASE WHEN round(list_sum(list_transform(
                 range(1, {n_dims} + 1),
                 i -> s.embedding[i]::DOUBLE * p.pvec[i])), 6) > 0
               THEN '1' ELSE '0' END, '' ORDER BY p.plane_id) AS sig
      FROM (SELECT * FROM assigned
            WHERE cent_id IN (SELECT cent_id FROM big)) s
      CROSS JOIN planes p
      GROUP BY s.vec_id
    ),
    subbed AS (
      SELECT a.*, coalesce(g.sig, '') AS sub
      FROM assigned a LEFT JOIN sigs g ON a.vec_id = g.vec_id
    )"""
    return f"""
    WITH {",".join(layers)},
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN {cent_final} c
      ) WHERE rn = 1
    ){sub_ctes}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos_ab} AS cosine_sim
    FROM subbed a JOIN subbed b
      ON a.cent_id = b.cent_id AND a.sub = b.sub AND a.vec_id < b.vec_id
    WHERE {cos_ab} >= {threshold}
    """


# -- Embedding-cosine near-duplicate detection -------------------------------

def sign_bits(vec: Column, planes: list[list[float]]) -> list[Column]:
    """Per-plane sign bits as individual Columns.

    Prefer :func:`sign_signature` + substrings for anything beyond a
    handful of planes — per-plane aggregate expressions grow the tree
    linearly in plane count, while the signature string is one
    constant-shape nested HOF.
    """
    dots = plane_dots(vec, planes)
    return [
        F.when(F.element_at(dots, p + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(len(planes))
    ]


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
) -> DataFrame:
    """Near-duplicate (vec_a, vec_b, cosine_sim) pairs via banded
    random-hyperplane LSH + exact cosine verification.

    Same two-phase shape as dedup.minhash_dedup_pairs: candidates come
    from a hash-join on (band_id, band_key) — never an O(n²) scan — and
    only candidates pay the exact-cosine cost. Candidates travel as ID
    pairs only (vectors re-join afterwards), so the distinct never
    shuffles vector payloads. Defaults target true near-duplicates
    (cos ≥ 0.95): one 8-bit band keeps the bucket collision rate for
    unrelated vectors at ~2⁻⁸ while near-identical vectors share all
    sign bits with high probability; more/narrower bands buy recall at
    lower thresholds at the price of candidate volume.
    """
    from webhookdb_spark.operators.util import bind

    if n_dims is None:  # one driver action — pass n_dims to skip it
        n_dims = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(n_planes, n_dims)
    rows_per_band = n_planes // bands
    # full signature bound once per row; band keys are substrings of it
    sigged = bind(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")),
        "_sig",
        sign_signature(F.col("_v"), planes),
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.substring("_sig", b * rows_per_band + 1, rows_per_band).alias(
                "band_key"
            ),
        )
        for b in range(bands)
    ]
    tagged = sigged.select(
        "vec_id",
        F.explode(F.array(*band_cols)).alias("band"),
    ).select("vec_id", "band.band_id", "band.band_key")
    a, b = tagged.alias("a"), tagged.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    from webhookdb_spark.operators.util import bind

    vecs = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    paired = (
        cand.join(vecs.alias("va"), cand.vec_a == F.col("va.vec_id"))
        .join(vecs.alias("vb"), cand.vec_b == F.col("vb.vec_id"))
        .select("vec_a", "vec_b", F.col("va.vec").alias("_va"), F.col("vb.vec").alias("_vb"))
    )
    # bind() the score so the threshold filter isn't pushed into the
    # join and the cosine evaluated twice per candidate
    return (
        bind(paired, "cosine_sim", _cos_named("_va", "_vb"))
        .where(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", "cosine_sim")
    )


def sql_embedding_near_dup(
    table: str = "embeddings",
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 1,
    n_dims: int = 64,
) -> str:
    """DuckDB twin of :func:`embedding_near_dup_pairs`: identical
    md5-derived plane constants, rounded dots, band keys."""
    planes = hyperplanes(n_planes, n_dims)
    rows_per_band = n_planes // bands
    values = ",\n      ".join(
        f"({p}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for p, plane in enumerate(planes)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, "
        f"substr(sig, {1 + b * rows_per_band}, {rows_per_band}) AS band_key FROM sigs"
        for b in range(bands)
    )
    cos_ab = _SQL_COS.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH planes(plane_id, pvec) AS (VALUES
      {values}
    ),
    dots AS (
      SELECT e.vec_id, p.plane_id,
             round(list_sum(list_transform(range(1, {n_dims} + 1),
                    i -> e.embedding[i]::DOUBLE * p.pvec[i])), 6) AS dot
      FROM {table} e CROSS JOIN planes p
    ),
    sigs AS (
      SELECT vec_id,
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY plane_id) AS sig
      FROM dots GROUP BY vec_id
    ),
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, {cos_ab} AS cosine_sim
    FROM cand c
    JOIN {table} ea ON c.vec_a = ea.vec_id
    JOIN {table} eb ON c.vec_b = eb.vec_id
    WHERE {cos_ab} >= {threshold}
    """


# -- Product quantization (PQ) ANN -------------------------------------------
#
# Flat-PQ compressed-domain search (Jégou et al., "Product Quantization
# for Nearest Neighbor Search"): split each vector into ``m`` subvectors,
# learn a tiny per-subspace codebook, store each vector as ``m`` small
# integer codes (64 floats -> 8 bytes here, a 32x compression), and score
# query-vector pairs ASYMMETRICALLY (ADC): the query builds one
# m x ksub lookup table of exact subspace dot products, and every
# corpus vector is scored with m table lookups instead of a d-dim dot.
#
# The 100 TB story is the whole point: the scan that ranks 100 TB of
# embeddings reads ONLY the code columns (m bytes/vector, pruned at the
# parquet scan), the codebook training aggregates are fixed-point and
# metadata-sized (m*ksub*d values), the per-query LUT rides a broadcast,
# and the ADC scan is a narrow map + top-k window — no shuffle of the
# corpus beyond the final per-query k rows. Deterministic end-to-end
# (rounded distances, fixed-point Lloyd means, lowest-code tie-breaks),
# so it carries a full value-hash oracle like the IVF path.

def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _floor6(c: Column) -> Column:
    """Quantize to 6 places with floor(x*1e6)/1e6 instead of round:
    floor has no midpoint, so as long as both engines produce the same
    input double (identical fold order) the quantized value is
    bit-identical. round() is NOT: when x*1e6 lands exactly on .5
    (common here — LUT entries are products of 1e-6-grid codewords and
    coarse-grid inputs) Spark HALF_UPs the exact decimal expansion of
    x while DuckDB rounds the product double, and they disagree
    (found by the round-5 PQ property test: 8.883333499999999)."""
    return F.floor(c * F.lit(1e6)) / F.lit(1e6)


def _pq_cb_lit(cbs: list[list[list[float]]]) -> Column:
    return lit_doubles([[list(cw) for cw in cb] for cb in cbs])


def _pq_cb_sql(cbs: list[list[list[float]]]) -> str:
    from webhookdb_spark.operators.util import sql_doubles

    return sql_doubles([[list(cw) for cw in cb] for cb in cbs])


def _pq_subvectors(corpus: DataFrame, m: int, d: int, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, sub_id, sv): each vector split into m d-dim DOUBLE
    subvectors — a narrow map (posexplode), no shuffle."""
    subs = F.expr(_sq_subvectors(f"`{vec_col}`", m, d))
    return (
        scale_out(corpus.select(id_col, vec_col))
        .select(F.col(id_col).alias("vec_id"), F.posexplode(subs).alias("sub_id", "sv"))
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: seed from the ``ksub`` lowest-id
    vectors' subvectors (engine-reproducible, same rule as
    :func:`ivf_centroids`), then ``n_refine`` deterministic fixed-point
    Lloyd iterations run for ALL subspaces in one job per iteration."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(ksub).collect()
    dims = len(rows[0][1])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    d = dims // m
    cbs = [
        [[float(x) for x in r[1][s * d:(s + 1) * d]] for r in rows]
        for s in range(m)
    ]
    for _ in range(n_refine):
        cbs = _pq_refine(corpus, cbs, id_col, vec_col)
    return cbs


def _pq_assign_code(cb_lit: Column, sub_id: Column, sv: Column) -> Column:
    """Nearest codeword in ``sv``'s subspace: floor-scaled squared-L2
    (floor(x*1e6) — midpoint-free, so both engines quantize the same
    double identically; round() diverges when x*1e6 lands exactly on
    .5 because Spark rounds the exact decimal expansion HALF_UP while
    DuckDB rounds the product double half-away), ties to the lowest
    code id (array_position returns the FIRST minimum)."""
    dists = F.transform(
        F.element_at(cb_lit, sub_id + 1),
        lambda cw: F.floor(_l2sq(sv, cw) * F.lit(1e6)),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _sq_pq_assign_code(cb: str, sub_id: str, sv: str) -> str:
    """SQL twin of :func:`_pq_assign_code`."""
    dists = (
        f"transform(element_at({cb}, {sub_id} + 1), "
        f"cw -> floor({_sql2sq(sv, 'cw')} * 1000000.0D))"
    )
    return (
        f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
    )


def _sq_subvectors(vec: str, m: int, d: int) -> str:
    """SQL twin of the m×d DOUBLE subvector split used by
    :func:`pq_encode` / :func:`ivfpq_cells` / :func:`_pq_subvectors`."""
    return (
        f"transform(sequence(0, {m - 1}), s -> transform(sequence(1, {d}), "
        f"i -> CAST(element_at({vec}, s * {d} + i) AS DOUBLE)))"
    )


def _pq_refine(
    corpus: DataFrame,
    cbs: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> list[list[list[float]]]:
    """One Lloyd iteration over every subspace at once: assign each
    (vector, subspace) to its nearest codeword, then move codewords to
    their cells' fixed-point means (same exact-int64 discipline as
    :func:`ivf_refine`; empty cells keep their codeword)."""
    m, ksub, d = len(cbs), len(cbs[0]), len(cbs[0][0])
    sub = _pq_subvectors(corpus, m, d, id_col, vec_col)
    cb_lit = _pq_cb_lit(cbs)
    assigned = sub.select(
        "sub_id",
        _pq_assign_code(cb_lit, F.col("sub_id"), F.col("sv")).alias("code_id"),
        "sv",
    )
    means = (
        assigned.select("sub_id", "code_id", F.posexplode("sv").alias("pos", "x"))
        .groupBy("sub_id", "code_id", "pos")
        .agg(
            F.sum(F.floor(F.col("x") * _FIX_SCALE).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "sub_id", "code_id", "pos",
            (F.floor(F.col("s") / F.col("n")) / _FIX_SCALE).alias("mval"),
        )
        .collect()
    )
    out = [[list(cw) for cw in cb] for cb in cbs]
    touched: dict[tuple[int, int], list[float]] = {}
    for r in means:
        touched.setdefault((r.sub_id, r.code_id), [0.0] * d)[r.pos] = float(r.mval)
    for (s, c), vec in touched.items():
        out[s][c] = vec
    return out


def ivfpq_cells(
    corpus: DataFrame,
    cents: list[list[float]],
    cbs: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes, cent_id) in ONE narrow map over the corpus.

    The coarse assignment (:func:`ivf_assign`) and the PQ encoding
    (:func:`pq_encode`) are both pure per-row expressions over the
    same vector, so computing them side by side replaces the
    assign-scan + encode-scan + vec_id shuffle join that previously
    re-paired them: two full corpus scans and two Exchanges collapse
    to one scan with no join. Expressions are copied verbatim from
    the two operators, so codes and cell ids are bit-identical."""
    m, d = len(cbs), len(cbs[0][0])
    cb_sql = _pq_cb_sql(cbs)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    subs = F.expr(_sq_subvectors("c_vec", m, d))
    b = bind(assigned, "_subs", subs)
    codes = F.expr(
        f"transform(sequence(0, {m - 1}), s -> "
        + _sq_pq_assign_code(cb_sql, "s", "element_at(_subs, s + 1)")
        + ")"
    )
    return b.select("vec_id", codes.alias("codes"), "cent_id")


def pq_encode(
    corpus: DataFrame,
    cbs: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes): each vector compressed to ``m`` small-int codes.
    Codebooks ride as one nested literal and the whole encoding is ONE
    per-row array expression — zero shuffle. At 100 TB this is the
    write-once pass whose output (m bytes a row) is what every later
    ANN query scans instead of the floats; a keyed exchange here would
    shuffle the entire corpus for nothing."""
    m, d = len(cbs), len(cbs[0][0])
    cb_sql = _pq_cb_sql(cbs)
    subs = F.expr(_sq_subvectors(f"`{vec_col}`", m, d))
    b = bind(scale_out(corpus.select(id_col, vec_col)), "_subs", subs)
    codes = F.expr(
        f"transform(sequence(0, {m - 1}), s -> "
        + _sq_pq_assign_code(cb_sql, "s", "element_at(_subs, s + 1)")
        + ")"
    )
    return b.select(F.col(id_col).alias("vec_id"), codes.alias("codes"))


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ top-k: train codebooks, encode the corpus
    once, bind each query's m x ksub dot-product LUT on the (broadcast)
    query side, then score every corpus vector with m lookups and keep
    the per-query top ``k`` by approximate inner product.

    This convenience form re-encodes per call; the 100 TB usage is
    encode-once/query-many — persist :func:`pq_encode`'s output and
    call :func:`adc_topk` against the stored codes, whose scan then
    reads m bytes per vector instead of the float column."""
    cbs = pq_codebooks(corpus, m, ksub, n_refine, id_col, vec_col)
    codes = pq_encode(corpus, cbs, id_col, vec_col)
    return adc_topk(codes, cbs, queries, k, id_col, vec_col)


def adc_topk(
    codes: DataFrame,
    cbs: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC scan against pre-encoded PQ codes: per-query LUT on the
    broadcast side, m table lookups per corpus vector, top-k window.
    The only shuffle is the final per-query top-k."""
    m, d = len(cbs), len(cbs[0][0])
    cb_sql = _pq_cb_sql(cbs)

    lut = F.expr(
        f"zip_with({_sq_subvectors('q_vec', m, d)}, {cb_sql}, "
        f"(qs, cb) -> transform(cb, cw -> {_sqdot_pre('qs', 'cw')}))"
    )
    q = bind(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "_lut",
        lut,
    ).select("query_id", "_lut")

    paired = codes.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    from webhookdb_spark.operators.util import memo_col

    approx = memo_col(
        ("adc_approx", m),
        lambda: F.expr(
            f"floor(aggregate(sequence(0, {m - 1}), 0.0D, (acc, s) -> acc + "
            f"element_at(element_at(_lut, s + 1), "
            f"element_at(codes, s + 1) + 1)) * 1000000.0D) / 1000000.0D"
        ),
    )
    scored = paired.select("query_id", "vec_id", approx.alias("approx_ip"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "approx_ip",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _dot_pre(a: Column, b: Column) -> Column:
    """Dot product of two already-DOUBLE arrays (no per-element cast, so
    the fold is the exact IEEE sequence the DuckDB twin folds)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_ann_topk_pq(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`ann_topk_pq`: the same seed rule, the same
    ``n_refine`` unrolled fixed-point Lloyd layers per subspace, the
    same floor-scaled squared-L2 assignment (floor(x*1e6), midpoint-free
    — see Spark-side ``_floor6``) and lowest-code tie-break, and an ADC
    sum folded in sub_id order so the IEEE additions match Spark's fold
    exactly."""
    d = dims // m
    l2 = (
        f"floor(list_sum(list_transform(range(1, {d} + 1),"
        " i -> (u.sv[CAST(i AS INTEGER)] - c.cvec[CAST(i AS INTEGER)])"
        " * (u.sv[CAST(i AS INTEGER)] - c.cvec[CAST(i AS INTEGER)]))) * 1000000.0)"
    )
    layers = [f"""
    sub AS (
      SELECT vec_id, CAST(s.s AS INTEGER) AS sub_id,
             list_transform(range(1, {d} + 1),
                            i -> embedding[CAST(s.s * {d} + i AS INTEGER)]::DOUBLE) AS sv
      FROM {table}, unnest(range(0, {m})) AS s(s)
    ),
    cb0 AS (
      SELECT CAST(s.s AS INTEGER) AS sub_id,
             CAST(row_number() OVER (PARTITION BY s.s ORDER BY e.vec_id) - 1 AS INTEGER) AS code_id,
             list_transform(range(1, {d} + 1),
                            i -> e.embedding[CAST(s.s * {d} + i AS INTEGER)]::DOUBLE) AS cvec
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {ksub}) e,
           unnest(range(0, {m})) AS s(s)
    )"""]
    for i in range(n_refine):
        layers.append(f"""
    assign{i} AS (
      SELECT vec_id, sub_id, sv, code_id FROM (
        SELECT u.vec_id, u.sub_id, u.sv, c.code_id,
               row_number() OVER (PARTITION BY u.vec_id, u.sub_id
                                  ORDER BY {l2} ASC, c.code_id ASC) AS rn
        FROM sub u JOIN cb{i} c USING (sub_id)
      ) WHERE rn = 1
    ),
    means{i} AS (
      SELECT sub_id, code_id, u.i AS pos,
             floor(sum(CAST(floor(a.sv[CAST(u.i AS INTEGER)] * {_FIX_SCALE}) AS BIGINT))
                   / count(*)) / {_FIX_SCALE} AS mval
      FROM assign{i} a, unnest(range(1, {d} + 1)) AS u(i)
      GROUP BY 1, 2, 3
    ),
    cb{i + 1} AS (
      SELECT c.sub_id, c.code_id, coalesce(mm.cvec, c.cvec) AS cvec
      FROM cb{i} c LEFT JOIN (
        SELECT sub_id, code_id, list(mval ORDER BY pos) AS cvec
        FROM means{i} GROUP BY 1, 2
      ) mm ON c.sub_id = mm.sub_id AND c.code_id = mm.code_id
    )""")
    cbf = f"cb{n_refine}"
    return f"""
    WITH {",".join(layers)},
    codes AS (
      SELECT vec_id, sub_id, code_id FROM (
        SELECT u.vec_id, u.sub_id, c.code_id,
               row_number() OVER (PARTITION BY u.vec_id, u.sub_id
                                  ORDER BY {l2} ASC, c.code_id ASC) AS rn
        FROM sub u JOIN {cbf} c USING (sub_id)
      ) WHERE rn = 1
    ),
    terms AS (
      SELECT q.vec_id AS query_id, cd.vec_id, q.sub_id,
             list_sum(list_transform(range(1, {d} + 1),
               i -> q.sv[CAST(i AS INTEGER)] * c.cvec[CAST(i AS INTEGER)])) AS term
      FROM (SELECT vec_id, sub_id, sv FROM sub WHERE {query_pred}) q
      JOIN codes cd ON cd.sub_id = q.sub_id AND cd.vec_id != q.vec_id
      JOIN {cbf} c ON c.sub_id = cd.sub_id AND c.code_id = cd.code_id
    ),
    approx AS (
      SELECT query_id, vec_id,
             floor(list_sum(list(term ORDER BY sub_id)) * 1000000.0) / 1000000.0
               AS approx_ip
      FROM terms GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, approx_ip, rank FROM (
      SELECT query_id, vec_id, approx_ip,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_ip DESC, vec_id ASC) AS INTEGER) AS rank
      FROM approx
    ) WHERE rank <= {k}
    """


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production large-scale ANN architecture (FAISS's
    default at billion scale): a coarse quantizer routes each vector to
    one of ``n_centroids`` cells, vectors are stored as ``m``-byte PQ
    codes, and a query ADC-scans ONLY the ``nprobe`` probed cells.

    At 100 TB: codes are written partitioned by ``cent_id``, so a probe
    reads ``nprobe/C`` of an already-32x-compressed store — the scan
    cost drops by both factors multiplied. Training (coarse + subspace
    codebooks) is the same fixed-point Lloyd machinery as the IVF and
    PQ operators, so the composition stays deterministic end-to-end and
    carries a full value-hash oracle.
    """
    spark = corpus.sparkSession
    # coarse quantizer + subspace codebooks, then ONE combined
    # assign+encode map (see ivfpq_cells)
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    for _ in range(n_refine):
        cents = ivf_refine(corpus, cents, id_col, vec_col)
    cbs = pq_codebooks(corpus, m, ksub, n_refine, id_col, vec_col)
    cells = ivfpq_cells(corpus, cents, cbs, id_col, vec_col)

    # probe the nprobe nearest cells per query
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cent_id int, cent_vec array<double>"
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cscore", _cos_named("q_vec", "cent_vec"))
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("cent_id").asc()
    )
    probes = (
        q.withColumn("prank", F.row_number().over(pw))
        .where(F.col("prank") <= nprobe)
        .select("query_id", "q_vec", "cent_id")
    )

    # ADC scan restricted to probed cells: LUT bound on the broadcast side
    d = len(cbs[0][0])
    cb_lit = _pq_cb_lit(cbs)
    q_subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: F.element_at(F.col("q_vec"), s * d + i).cast("double"),
        ),
    )
    lut = F.zip_with(
        q_subs, cb_lit,
        lambda qs, cb: F.transform(cb, lambda cw: _dot_pre(qs, cw)),
    )
    probes_lut = bind(probes, "_lut", lut).select("query_id", "cent_id", "_lut")
    paired = cells.join(F.broadcast(probes_lut), on="cent_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    approx = _floor6(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.element_at(F.col("_lut"), s + 1),
                F.element_at(F.col("codes"), s + 1) + 1,
            ),
        )
    )
    scored = paired.select("query_id", "vec_id", approx.alias("approx_ip"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "approx_ip",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sql_ann_topk_ivfpq(
    table: str = "embeddings",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`ann_topk_ivfpq`: the IVF twin's coarse
    layers + the PQ twin's subspace layers + a cell-filtered ADC sum."""
    d = dims // m
    cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _SQL_COS.format(a="q.embedding", b="c.cvec")
    l2 = (
        f"floor(list_sum(list_transform(range(1, {d} + 1),"
        " i -> (u.sv[CAST(i AS INTEGER)] - c.cvec[CAST(i AS INTEGER)])"
        " * (u.sv[CAST(i AS INTEGER)] - c.cvec[CAST(i AS INTEGER)]))) * 1000000.0)"
    )
    # coarse (IVF) layers, prefixed ivf_
    layers = [f"""
    ivf_cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cent_id,
             list_transform(embedding, x -> x::DOUBLE) AS cvec
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {n_centroids})
    )"""]
    for i in range(n_refine):
        layers.append(f"""
    ivf_assign{i} AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN ivf_cent{i} c
      ) WHERE rn = 1
    ),
    ivf_means{i} AS (
      SELECT cent_id, u.i AS pos,
             floor(sum(CAST(floor(a.embedding[u.i]::DOUBLE * {_FIX_SCALE}) AS BIGINT))
                   / count(*)) / {_FIX_SCALE} AS mval
      FROM ivf_assign{i} a, unnest(range(1, len(a.embedding) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    ivf_cent{i + 1} AS (
      SELECT c.cent_id, coalesce(m.cvec, c.cvec) AS cvec
      FROM ivf_cent{i} c LEFT JOIN (
        SELECT cent_id, list(mval ORDER BY pos) AS cvec FROM ivf_means{i} GROUP BY 1
      ) m ON c.cent_id = m.cent_id
    )""")
    ivf_final = f"ivf_cent{n_refine}"
    # subspace (PQ) layers
    layers.append(f"""
    sub AS (
      SELECT vec_id, CAST(s.s AS INTEGER) AS sub_id,
             list_transform(range(1, {d} + 1),
                            i -> embedding[CAST(s.s * {d} + i AS INTEGER)]::DOUBLE) AS sv
      FROM {table}, unnest(range(0, {m})) AS s(s)
    ),
    cb0 AS (
      SELECT CAST(s.s AS INTEGER) AS sub_id,
             CAST(row_number() OVER (PARTITION BY s.s ORDER BY e.vec_id) - 1 AS INTEGER) AS code_id,
             list_transform(range(1, {d} + 1),
                            i -> e.embedding[CAST(s.s * {d} + i AS INTEGER)]::DOUBLE) AS cvec
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {ksub}) e,
           unnest(range(0, {m})) AS s(s)
    )""")
    for i in range(n_refine):
        layers.append(f"""
    pq_assign{i} AS (
      SELECT vec_id, sub_id, sv, code_id FROM (
        SELECT u.vec_id, u.sub_id, u.sv, c.code_id,
               row_number() OVER (PARTITION BY u.vec_id, u.sub_id
                                  ORDER BY {l2} ASC, c.code_id ASC) AS rn
        FROM sub u JOIN cb{i} c USING (sub_id)
      ) WHERE rn = 1
    ),
    pq_means{i} AS (
      SELECT sub_id, code_id, u.i AS pos,
             floor(sum(CAST(floor(a.sv[CAST(u.i AS INTEGER)] * {_FIX_SCALE}) AS BIGINT))
                   / count(*)) / {_FIX_SCALE} AS mval
      FROM pq_assign{i} a, unnest(range(1, {d} + 1)) AS u(i)
      GROUP BY 1, 2, 3
    ),
    cb{i + 1} AS (
      SELECT c.sub_id, c.code_id, coalesce(mm.cvec, c.cvec) AS cvec
      FROM cb{i} c LEFT JOIN (
        SELECT sub_id, code_id, list(mval ORDER BY pos) AS cvec
        FROM pq_means{i} GROUP BY 1, 2
      ) mm ON c.sub_id = mm.sub_id AND c.code_id = mm.code_id
    )""")
    cbf = f"cb{n_refine}"
    return f"""
    WITH {",".join(layers)},
    cell_of AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN {ivf_final} c
      ) WHERE rn = 1
    ),
    codes AS (
      SELECT vec_id, sub_id, code_id FROM (
        SELECT u.vec_id, u.sub_id, c.code_id,
               row_number() OVER (PARTITION BY u.vec_id, u.sub_id
                                  ORDER BY {l2} ASC, c.code_id ASC) AS rn
        FROM sub u JOIN {cbf} c USING (sub_id)
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cent_id FROM (
        SELECT q.vec_id AS query_id, c.cent_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_qc} DESC, c.cent_id ASC) AS rn
        FROM {table} q CROSS JOIN {ivf_final} c WHERE {query_pred}
      ) WHERE rn <= {nprobe}
    ),
    terms AS (
      SELECT q.vec_id AS query_id, cd.vec_id, q.sub_id,
             list_sum(list_transform(range(1, {d} + 1),
               i -> q.sv[CAST(i AS INTEGER)] * c.cvec[CAST(i AS INTEGER)])) AS term
      FROM (SELECT vec_id, sub_id, sv FROM sub WHERE {query_pred}) q
      JOIN probes p ON p.query_id = q.vec_id
      JOIN cell_of cf ON cf.cent_id = p.cent_id
      JOIN codes cd ON cd.vec_id = cf.vec_id AND cd.sub_id = q.sub_id
                    AND cd.vec_id != q.vec_id
      JOIN {cbf} c ON c.sub_id = cd.sub_id AND c.code_id = cd.code_id
    ),
    approx AS (
      SELECT query_id, vec_id,
             floor(list_sum(list(term ORDER BY sub_id)) * 1000000.0) / 1000000.0
               AS approx_ip
      FROM terms GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, approx_ip, rank FROM (
      SELECT query_id, vec_id, approx_ip,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_ip DESC, vec_id ASC) AS INTEGER) AS rank
      FROM approx
    ) WHERE rank <= {k}
    """


def embedding_cluster_profile(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cluster profile of the embedding corpus under the deterministic
    IVF coarse quantizer: per cell — member count, fixed-point mean
    cosine to the centroid (cluster tightness), and the dominant label
    with its share (cluster purity). The topic/quality triage a
    training pipeline runs after clustering a corpus.

    Shapes: assignment is the same zero-join narrow map as
    :func:`ivf_assign`; the tightness aggregate is map-side combined on
    ``cent_id`` (C cells of state); purity needs one (cent_id, label)
    count plus a C×labels-sized window — all metadata-scale after the
    first aggregate. The mean is exact int64 over floor(cos*1e6) so no
    double sum-order can split the engines.
    """
    import math

    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    for _ in range(n_refine):
        cents = ivf_refine(corpus, cents, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    cvec = f"element_at({sql_doubles([list(c) for c in cents])}, cent_id + 1)"
    cnrm = (
        f"element_at({sql_doubles([math.sqrt(sum(x * x for x in c)) for c in cents])}"
        ", cent_id + 1)"
    )
    vn = _sqnorm("c_vec")
    score = F.expr(
        f"round(CASE WHEN ({vn} * {cnrm}) = 0.0D THEN 0.0D "
        f"ELSE {_sqdot('c_vec', cvec)} / ({vn} * {cnrm}) END, 6)"
    )
    # floor is ulp-safe here (r10 audit): score's chain is HOF folds
    # (fixed order) through +,-,*,/ and sqrt — all correctly-rounded
    # IEEE, no libm estimate — so both engines floor the bit-identical
    # double; the only residual seam is round(x, 6)'s documented exact
    # 6-dp-midpoint coincidence, which has no attractor for cosines.
    scored = assigned.select(
        "vec_id", "cent_id", F.floor(score * F.lit(1e6)).cast("long").alias("_s6")
    ).join(corpus.select(F.col(id_col).alias("vec_id"), label_col), "vec_id")

    tight = scored.groupBy("cent_id").agg(
        F.count("*").alias("n_vectors"),
        (F.floor(F.sum("_s6") / F.count("*")) / F.lit(1e6)).alias("mean_sim"),
    )
    lab = scored.groupBy("cent_id", label_col).agg(F.count("*").alias("_lc"))
    w = Window.partitionBy("cent_id").orderBy(
        F.col("_lc").desc(), F.col(label_col).asc()
    )
    dom = (
        lab.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cent_id",
            F.col(label_col).alias("dominant_label"),
            F.col("_lc").alias("_dn"),
        )
    )
    return (
        tight.join(dom, "cent_id")
        .select(
            "cent_id",
            "n_vectors",
            "mean_sim",
            "dominant_label",
            (F.floor(F.col("_dn") / F.col("n_vectors") * F.lit(1e6)) / F.lit(1e6)
             ).alias("label_share"),
        )
        .orderBy("cent_id")
    )


def sql_cluster_profile(
    table: str = "embeddings",
    n_centroids: int = 8,
    n_refine: int = 1,
) -> str:
    """DuckDB twin of :func:`embedding_cluster_profile` — the IVF
    twin's centroid layers, then the same fixed-point tightness and
    purity aggregates."""
    cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
    layers = [f"""
    cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cent_id,
             list_transform(embedding, x -> x::DOUBLE) AS cvec
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {n_centroids})
    )"""]
    for i in range(n_refine):
        layers.append(f"""
    assign{i} AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN cent{i} c
      ) WHERE rn = 1
    ),
    means{i} AS (
      SELECT cent_id, u.i AS pos,
             floor(sum(CAST(floor(a.embedding[u.i]::DOUBLE * {_FIX_SCALE}) AS BIGINT))
                   / count(*)) / {_FIX_SCALE} AS mval
      FROM assign{i} a, unnest(range(1, len(a.embedding) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    cent{i + 1} AS (
      SELECT c.cent_id, coalesce(m.cvec, c.cvec) AS cvec
      FROM cent{i} c LEFT JOIN (
        SELECT cent_id, list(mval ORDER BY pos) AS cvec FROM means{i} GROUP BY 1
      ) m ON c.cent_id = m.cent_id
    )""")
    cf = f"cent{n_refine}"
    return f"""
    WITH {",".join(layers)},
    cell_of AS (
      SELECT vec_id, label, cent_id,
             CAST(floor(score * 1e6) AS BIGINT) AS s6
      FROM (
        SELECT e.vec_id, e.label, c.cent_id, {cos_ac} AS score,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ac} DESC, c.cent_id ASC) AS rn
        FROM {table} e CROSS JOIN {cf} c
      ) WHERE rn = 1
    ),
    tight AS (
      SELECT cent_id, count(*) AS n_vectors,
             floor(CAST(sum(s6) AS BIGINT) / count(*)) / 1e6 AS mean_sim
      FROM cell_of GROUP BY cent_id
    ),
    dom AS (
      SELECT cent_id, label AS dominant_label, lc AS dn FROM (
        SELECT cent_id, label, count(*) AS lc,
               row_number() OVER (PARTITION BY cent_id
                                  ORDER BY count(*) DESC, label ASC) AS rn
        FROM cell_of GROUP BY cent_id, label
      ) WHERE rn = 1
    )
    SELECT t.cent_id, t.n_vectors, t.mean_sim, d.dominant_label,
           floor(d.dn / t.n_vectors * 1e6) / 1e6 AS label_share
    FROM tight t JOIN dom d ON t.cent_id = d.cent_id
    ORDER BY t.cent_id
    """


# ---------------------------------------------------------------------------
# Persisted LSH index — the "written n_tables× bucketed by (tbl, sig)"
# operating mode the ann_topk_lsh docstring describes: build once, query
# many times with partition-pruned reads.
# ---------------------------------------------------------------------------

def write_lsh_index(
    corpus: DataFrame,
    path: str,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
) -> None:
    """Materialize the LSH index on disk: the corpus written
    ``n_tables``× (the standard LSH space trade), parquet-partitioned
    by (tbl, sig) so each of a query's ``n_tables × (1 + n_planes)``
    probes is a PARTITION-PRUNED read of exactly one bucket directory —
    at 100 TB a query batch touches probe-count buckets, never the
    corpus. Plane geometry is deterministic (:func:`hyperplanes`), so
    only the knobs go in the sidecar; :func:`query_lsh_index` rebuilds
    identical planes and signatures are reproducible across sessions
    and engines."""
    import json
    from pathlib import Path

    if n_dims is None:
        n_dims = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(n_planes * n_tables, n_dims)
    sig_kernel = sign_signature_udf(planes)
    tbl = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("tbl")
    tsig = F.col("_sig").substr(F.col("tbl") * n_planes + 1, F.lit(n_planes))
    rows = (
        bind(
            corpus.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("vec")),
            "_sig",
            sig_kernel(F.col("vec")),
        )
        .select("vec_id", "vec", "_sig", tbl)
        .select("vec_id", "vec", "tbl", tsig.alias("sig"))
    )
    rows.write.mode("overwrite").partitionBy("tbl", "sig").option(
        "partitionOverwriteMode", "static"  # replace-the-index semantics
    ).parquet(path)
    # record the exact read schema: without it Spark type-INFERS the
    # sig partition value and "010101" silently becomes the int 10101
    read_schema = (
        rows.drop("tbl", "sig")
        .withColumn("tbl", F.lit(0).cast("int"))
        .withColumn("sig", F.lit("").cast("string"))
        .schema
    )
    meta = {
        "n_planes": n_planes,
        "n_tables": n_tables,
        "n_dims": n_dims,
        "schema": read_schema.json(),
    }
    write_atomic(Path(path) / "_lsh_meta.json", json.dumps(meta))


def query_lsh_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a :func:`write_lsh_index` directory with the same
    candidate semantics as :func:`ann_topk_lsh` (multi-table OR,
    hamming-1 multiprobe, exact cosine re-rank, deterministic ranks).

    The query batch's probe sigs collect to the driver (bounded by
    |queries| × n_tables × (1 + n_planes) — a query batch is
    metadata-sized next to the corpus) and become LITERAL partition
    predicates: ``(tbl = t AND sig IN (...)) OR ...``, which Spark
    prunes at planning time — the scan lists only the probed bucket
    directories."""
    import json
    from pathlib import Path

    meta = read_json(Path(path) / "_lsh_meta.json")
    n_planes, n_tables = meta["n_planes"], meta["n_tables"]
    planes = hyperplanes(n_planes * n_tables, meta["n_dims"])
    sig_kernel = sign_signature_udf(planes)
    tbl = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("tbl")
    tsig = F.col("_sig").substr(F.col("tbl") * n_planes + 1, F.lit(n_planes))
    last_probe = n_planes if multiprobe else 0
    probe_pos = F.explode(F.sequence(F.lit(0), F.lit(last_probe))).alias("p")
    flipped = F.concat(
        tsig.substr(F.lit(1), F.col("p") - 1),
        F.when(tsig.substr(F.col("p"), F.lit(1)) == "1", F.lit("0"))
        .otherwise(F.lit("1")),
        tsig.substr(F.col("p") + 1, F.lit(n_planes)),
    )
    q_probes = (
        bind(
            queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("q_vec")),
            "_sig",
            sig_kernel(F.col("q_vec")),
        )
        .select("query_id", "q_vec", "_sig", tbl)
        .select("query_id", "q_vec", "tbl", "_sig", probe_pos)
        .select(
            "query_id", "q_vec", "tbl",
            F.when(F.col("p") == 0, tsig).otherwise(flipped).alias("sig"),
        )
    )
    # probe keys come from their own tiny collect (a query batch's sig
    # kernel re-runs in milliseconds) instead of caching q_probes —
    # a cache pinned under a lazily-returned result never unpersists
    probe_keys: dict[int, set] = {}
    for r in q_probes.select("tbl", "sig").distinct().collect():
        probe_keys.setdefault(r.tbl, set()).add(r.sig)
    from pyspark.sql import types as _T

    read_schema = _T.StructType.fromJson(json.loads(meta["schema"]))
    if not probe_keys:
        # Empty-probe schema must match the non-empty path's exactly:
        # query_id inherits the queries' id type and vec_id the
        # sidecar's stored type — hardcoding long would diverge for
        # string/int ids and break downstream unions.
        return spark.createDataFrame(
            [],
            _T.StructType([
                _T.StructField("query_id", queries.schema[id_col].dataType),
                _T.StructField("vec_id", read_schema["vec_id"].dataType),
                _T.StructField("cosine_sim", _T.DoubleType()),
                # row_number() is non-nullable on the non-empty path
                _T.StructField("rank", _T.IntegerType(), False),
            ]),
        )
    pred = None
    for t, sigs in sorted(probe_keys.items()):
        clause = (F.col("tbl") == t) & F.col("sig").isin(*sorted(sigs))
        pred = clause if pred is None else (pred | clause)
    index = spark.read.schema(read_schema).parquet(path).where(pred)
    cand = (
        index.join(F.broadcast(q_probes), on=["tbl", "sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.first("q_vec").alias("q_vec"), F.first("vec").alias("c_vec"))
    )
    scored = cand.select(
        "query_id", "vec_id",
        _cos_named("q_vec", "c_vec").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim",
                F.col("rank").cast("int").alias("rank"))
    )
    return out


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> None:
    """Materialize the IVF index: corpus assigned to its coarse cell
    and written parquet-partitioned by ``cent_id`` — the layout
    :func:`ivf_assign`'s docstring prescribes for 100 TB, where probing
    ``nprobe`` of ``C`` cells reads ``nprobe/C`` of the data by
    directory pruning alone. Centroids (and the exact read schema —
    see :func:`write_lsh_index` on partition-type inference) go in the
    sidecar, so queries reuse the trained quantizer instead of
    re-running Lloyd."""
    import json
    from pathlib import Path

    if centroids is not None:
        cents = [[float(x) for x in c] for c in centroids]
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        for _ in range(n_refine):
            cents = ivf_refine(corpus, cents, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cent_id").option(
        "partitionOverwriteMode", "static"  # replace-the-index semantics
    ).parquet(path)
    read_schema = (
        assigned.drop("cent_id").withColumn("cent_id", F.lit(0).cast("int")).schema
    )
    meta = {"centroids": cents, "schema": read_schema.json()}
    write_atomic(Path(path) / "_ivf_meta.json", json.dumps(meta))


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a :func:`write_ivf_index` directory — identical
    semantics to :func:`ann_topk_ivf` with the same knobs (the sidecar
    centroids ARE the trained quantizer), but the corpus-side work is
    a partition-pruned read of the probed cells only."""
    import json
    from pathlib import Path

    from pyspark.sql import types as _T

    meta = read_json(Path(path) / "_ivf_meta.json")
    cents = meta["centroids"]
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cscore", _cos_named("q_vec", "cent_vec"))
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("cent_id").asc()
    )
    probes = (
        q.withColumn("prank", F.row_number().over(pw))
        .where(F.col("prank") <= nprobe)
        .select("query_id", "q_vec", "cent_id")
    )
    cells = sorted({r.cent_id for r in probes.select("cent_id").distinct().collect()})
    read_schema = _T.StructType.fromJson(json.loads(meta["schema"]))
    index = (
        spark.read.schema(read_schema).parquet(path)
        .where(F.col("cent_id").isin(cells))
    )
    paired = index.join(F.broadcast(probes), on="cent_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = paired.select(
        "query_id", "vec_id",
        _cos_named("q_vec", "c_vec").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim",
                F.col("rank").cast("int").alias("rank"))
    )


def append_to_lsh_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a :func:`write_lsh_index` directory without rebuilding it:
    new vectors are signed with the SIDECAR's knobs (the deterministic
    planes reconstruct exactly) and appended into the same (tbl, sig)
    partition layout — the daily-ingest flow, mirroring the
    incremental-dedup contract that the existing corpus is never
    rescanned. Queries over the grown index are indistinguishable from
    one built in a single shot."""
    from pathlib import Path

    meta = read_json(Path(path) / "_lsh_meta.json")
    n_planes, n_tables = meta["n_planes"], meta["n_tables"]
    planes = hyperplanes(n_planes * n_tables, meta["n_dims"])
    sig_kernel = sign_signature_udf(planes)
    tbl = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("tbl")
    tsig = F.col("_sig").substr(F.col("tbl") * n_planes + 1, F.lit(n_planes))
    rows = (
        bind(
            new_vectors.select(F.col(id_col).alias("vec_id"),
                               F.col(vec_col).alias("vec")),
            "_sig",
            sig_kernel(F.col("vec")),
        )
        .select("vec_id", "vec", "_sig", tbl)
        .select("vec_id", "vec", "tbl", tsig.alias("sig"))
    )
    rows.write.mode("append").partitionBy("tbl", "sig").parquet(path)


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a :func:`write_ivf_index` directory: new vectors are
    assigned with the SIDECAR centroids — the quantizer is NOT
    retrained (retraining would move cell boundaries and strand the
    already-written corpus in stale cells; production IVF stores
    retrain offline and rebuild, they never retrain on append)."""
    from pathlib import Path

    meta = read_json(Path(path) / "_ivf_meta.json")
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    assigned = ivf_assign(new_vectors, cents, id_col, vec_col)
    assigned.write.mode("append").partitionBy("cent_id").parquet(path)


# ---------------------------------------------------------------------------
# Persisted PQ / IVF-PQ indexes — the encode-once/query-many operating
# mode completing the index family (LSH + IVF landed in r6). IVF-PQ is
# the form that actually ships at 100 TB (FAISS's billion-scale
# default): m-byte codes on disk partitioned by coarse cell, ADC at
# query time against sidecar codebooks, appends assigned with FROZEN
# centroids/codebooks (retraining on append would strand the stored
# codes in a stale geometry — production stores retrain offline and
# rebuild).
# ---------------------------------------------------------------------------

def write_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Materialize the flat PQ index: corpus encoded to ``m``-code rows
    and written as parquet holding ONLY (vec_id, codes) — the scan
    every later query pays is m bytes per vector, never the float
    column (plan-gated like adc_topk,
    test_pq_adc_scan_reads_only_codes). Codebooks (and the exact read
    schema) go in the sidecar so queries and appends reuse the trained
    quantizer."""
    import json
    from pathlib import Path

    cbs = codebooks or pq_codebooks(corpus, m, ksub, n_refine, id_col, vec_col)
    codes = pq_encode(corpus, cbs, id_col, vec_col)
    codes.write.mode("overwrite").parquet(path)
    meta = {"codebooks": cbs, "schema": codes.schema.json()}
    write_atomic(Path(path) / "_pq_meta.json", json.dumps(meta))


def query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a :func:`write_pq_index` directory — identical
    semantics to :func:`ann_topk_pq` with the sidecar codebooks as the
    trained quantizer; the corpus side reads only the stored codes."""
    import json
    from pathlib import Path

    from pyspark.sql import types as _T

    meta = read_json(Path(path) / "_pq_meta.json")
    cbs = [[list(map(float, cw)) for cw in cb] for cb in meta["codebooks"]]
    schema = _T.StructType.fromJson(json.loads(meta["schema"]))
    codes = spark.read.schema(schema).parquet(path)
    return adc_topk(codes, cbs, queries, k, id_col, vec_col)


def append_to_pq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a :func:`write_pq_index` directory: new vectors are encoded
    with the SIDECAR codebooks — never retrained — and appended, so a
    grown index is indistinguishable from a one-shot build over the
    union (the codes of pre-existing vectors cannot change)."""
    from pathlib import Path

    meta = read_json(Path(path) / "_pq_meta.json")
    cbs = [[list(map(float, cw)) for cw in cb] for cb in meta["codebooks"]]
    pq_encode(new_vectors, cbs, id_col, vec_col).write.mode("append").parquet(path)


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 8,
    ksub: int = 8,
    n_refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Materialize the IVF-PQ index: (vec_id, codes) rows written
    parquet-partitioned by ``cent_id``, so a query's probe reads
    ``nprobe/C`` of an already ~32x-compressed store — both reduction
    factors multiply at the scan. Coarse centroids AND subspace
    codebooks go in the sidecar; both are frozen for queries and
    appends (pass ``centroids``/``codebooks`` to build with an
    existing quantizer instead of training)."""
    import json
    from pathlib import Path

    if centroids is not None:
        cents = [[float(x) for x in c] for c in centroids]
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        for _ in range(n_refine):
            cents = ivf_refine(corpus, cents, id_col, vec_col)
    cbs = codebooks or pq_codebooks(corpus, m, ksub, n_refine, id_col, vec_col)
    cells = ivfpq_cells(corpus, cents, cbs, id_col, vec_col)
    cells.write.mode("overwrite").partitionBy("cent_id").option(
        "partitionOverwriteMode", "static"  # replace-the-index semantics
    ).parquet(path)
    read_schema = (
        cells.drop("cent_id").withColumn("cent_id", F.lit(0).cast("int")).schema
    )
    meta = {
        "centroids": cents,
        "codebooks": cbs,
        "schema": read_schema.json(),
    }
    write_atomic(Path(path) / "_ivfpq_meta.json", json.dumps(meta))


def query_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k against a :func:`write_ivfpq_index` directory —
    identical semantics to :func:`ann_topk_ivfpq` with the same knobs.
    Probed cells become literal partition predicates (directory
    pruning); the ADC scan reads ONLY (vec_id, codes) of those cells,
    never a float column; the query LUT rides the broadcast side."""
    import json
    from pathlib import Path

    from pyspark.sql import types as _T

    meta = read_json(Path(path) / "_ivfpq_meta.json")
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    cbs = [[list(map(float, cw)) for cw in cb] for cb in meta["codebooks"]]
    m, d = len(cbs), len(cbs[0][0])
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cent_id int, cent_vec array<double>",
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cscore", _cos_named("q_vec", "cent_vec"))
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("cent_id").asc()
    )
    probes = (
        q.withColumn("prank", F.row_number().over(pw))
        .where(F.col("prank") <= nprobe)
        .select("query_id", "q_vec", "cent_id")
    )
    cb_lit = _pq_cb_lit(cbs)
    q_subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: F.element_at(F.col("q_vec"), s * d + i).cast("double"),
        ),
    )
    lut = F.zip_with(
        q_subs, cb_lit,
        lambda qs, cb: F.transform(cb, lambda cw: _dot_pre(qs, cw)),
    )
    probes_lut = bind(probes, "_lut", lut).select("query_id", "cent_id", "_lut")
    # probe cells collect driver-side (|queries| x nprobe ints) and
    # become literal partition predicates — planning-time pruning
    cells = sorted(
        {r.cent_id for r in probes.select("cent_id").distinct().collect()}
    )
    schema = _T.StructType.fromJson(json.loads(meta["schema"]))
    index = (
        spark.read.schema(schema).parquet(path)
        .where(F.col("cent_id").isin(cells))
    )
    paired = index.join(F.broadcast(probes_lut), on="cent_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    approx = _floor6(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.element_at(F.col("_lut"), s + 1),
                F.element_at(F.col("codes"), s + 1) + 1,
            ),
        )
    )
    scored = paired.select("query_id", "vec_id", approx.alias("approx_ip"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "approx_ip",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a :func:`write_ivfpq_index` directory: new vectors are
    assigned with the SIDECAR centroids and encoded with the SIDECAR
    codebooks — neither is ever retrained on append — and appended into
    the same cent_id partition layout, so grown == one-shot exactly."""
    from pathlib import Path

    meta = read_json(Path(path) / "_ivfpq_meta.json")
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    cbs = [[list(map(float, cw)) for cw in cb] for cb in meta["codebooks"]]
    cells = ivfpq_cells(new_vectors, cents, cbs, id_col, vec_col)
    cells.write.mode("append").partitionBy("cent_id").parquet(path)


# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss) — deterministic
# dimensionality reduction for embedding columns: project d -> k with
# the md5-derived plane family (its own "rp" namespace, independent of
# the LSH signature planes), scaled by 1/sqrt(k) so expected pairwise
# distances are preserved. Entirely expression-level (one array
# literal + one transform per row, no shuffle, no UDF) and exactly
# reproducible in SQL — so unlike learned reductions (PCA) it carries
# a full value-hash oracle. At 100 TB this is the cheap pre-step that
# shrinks ANN index storage and LUT widths by d/k before any
# training-based method is even considered.
# ---------------------------------------------------------------------------

def rp_project(
    corpus: DataFrame,
    out_dims: int = 16,
    n_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding): each vector projected to ``out_dims``
    components, each ``floor6(vec · plane_j / sqrt(out_dims))``. The
    planes ride as ONE array-of-arrays literal walked by a generic
    lambda (the constant-size-expression-tree discipline of
    :func:`plane_dots`); floor (not round) quantization keeps the
    engines' half-way behavior identical. Scale sqrt(3/k): plane
    entries are uniform[-1,1) with E[c^2] = 1/3, so sqrt(3/k) makes
    E[|Pv|^2] = |v|^2 — the JL isometry-in-expectation."""
    if n_dims is None:
        n_dims = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(out_dims, n_dims, tag="rp")
    scale = (3.0 / out_dims) ** 0.5
    planes_lit = lit_doubles([list(p) for p in planes])
    proj = F.transform(
        planes_lit,
        lambda p: _floor6(
            F.aggregate(
                F.zip_with(F.col(vec_col), p,
                           lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale)
        ),
    )
    return scale_out(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("vec_id"), proj.alias("embedding")
    )


def sql_rp_project(
    table: str = "embeddings",
    out_dims: int = 16,
    n_dims: int = 64,
    exploded: bool = False,
) -> str:
    """DuckDB twin of :func:`rp_project` — identical plane literals,
    identical sequential double summation, identical floor
    quantization. ``exploded=True`` returns one (vec_id, dim, value)
    row per projected component instead of an array column — the
    hash-checkable shape (every component value lands in a scalar
    column the comparator can sort and digest)."""
    planes = hyperplanes(out_dims, n_dims, tag="rp")
    scale = (3.0 / out_dims) ** 0.5
    dot = (
        f"floor(list_sum(list_transform(range(1, {n_dims} + 1),"
        " i -> e.embedding[i]::DOUBLE * p.plane[i]))"
        f" * {scale!r} * 1e6) / 1e6"
    )
    planes_cte = f"""
    WITH planes AS (
      SELECT * FROM (VALUES {", ".join(f"({i}, {('[' + ', '.join(repr(x) for x in p) + ']')})" for i, p in enumerate(planes))}) AS t(j, plane)
    )"""
    if exploded:
        return f"""{planes_cte}
    SELECT e.vec_id, CAST(p.j AS INTEGER) AS dim, {dot} AS value
    FROM {table} e CROSS JOIN planes p
    """
    return f"""{planes_cte}
    SELECT e.vec_id, list({dot} ORDER BY p.j) AS embedding
    FROM {table} e CROSS JOIN planes p
    GROUP BY e.vec_id
    """


def ann_topk_rp(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k in the PROJECTED space: the quality
    floor of the JL reduction, and the cheap first-cut ANN when the
    reduced corpus fits broadcast budgets that the full vectors
    don't."""
    pc = rp_project(corpus, out_dims, id_col=id_col, vec_col=vec_col)
    pq = rp_project(queries, out_dims, id_col=id_col, vec_col=vec_col)
    return cosine_topk(pc, pq, k=k)


# ---------------------------------------------------------------------------
# PCA — the learned counterpart of rp_project: train a rotation on the
# corpus (mean + top-k eigenvectors of the covariance), persist it as a
# sidecar, project with a frozen model. Training is a partial-aggregate
# shape: each partition emits ONE (n, sum, outer-product) row via an
# Arrow batch kernel (d=64 → 4 KB per partition), the driver combines
# and eigendecomposes — no shuffle of the corpus, collect is
# metadata-sized. No SQL oracle (eigendecomposition is not
# SQL-expressible); the contract is property-pinned instead:
# orthonormal components, descending explained variance, known planted
# structure recovered, frozen-model projection stable under append.
# ---------------------------------------------------------------------------

def pca_train(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train a PCA rotation: returns ``{"mean", "components" (k×d,
    rows orthonormal), "explained" (k variances, descending)}``.

    Distributed shape: ``mapInPandas`` reduces each Arrow batch to one
    (count, Σx, Σxxᵀ) row — numpy einsum per batch, so the executor
    work is vectorized and the driver receives partitions×(1+d+d²)
    doubles, metadata-sized at any corpus scale. The driver assembles
    the covariance and runs ``numpy.linalg.eigh`` (d×d — tiny)."""
    import numpy as np

    d = len(corpus.select(vec_col).first()[0])

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame({
                "n": [float(len(m))],
                "s": [m.sum(axis=0).tolist()],
                "o": [np.einsum("ni,nj->ij", m, m).reshape(-1).tolist()],
            })

    rows = (
        corpus.select(vec_col)
        .mapInPandas(partials, "n double, s array<double>, o array<double>")
        .collect()
    )
    n = sum(r.n for r in rows)
    s = np.zeros(d)
    o = np.zeros((d, d))
    for r in rows:
        s += np.array(r.s)
        o += np.array(r.o).reshape(d, d)
    mean = s / n
    cov = o / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    idx = np.argsort(vals)[::-1][:k]
    comps = vecs[:, idx].T  # k×d
    # sign convention: first nonzero component of each row positive, so
    # the rotation is unique and reproducible
    for i in range(comps.shape[0]):
        nz = np.nonzero(np.abs(comps[i]) > 1e-12)[0]
        if len(nz) and comps[i, nz[0]] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained": [float(vals[j]) for j in idx],
    }


def pca_project(
    corpus: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding): center by the model mean and rotate onto
    the k components — entirely expression-level (the same
    array-literal transform shape as :func:`rp_project`; no UDF, no
    shuffle), so projecting appended vectors under a FROZEN model is
    exactly the same arithmetic as projecting them at training time."""
    mean_lit = lit_doubles(list(model["mean"]))
    comps_lit = lit_doubles([list(c) for c in model["components"]])
    centered = F.zip_with(
        F.col(vec_col), mean_lit, lambda x, m: x.cast("double") - m
    )
    proj = F.transform(
        comps_lit,
        lambda c: _floor6(
            F.aggregate(
                F.zip_with(centered, c, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    return scale_out(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("vec_id"), proj.alias("embedding")
    )


def pca_invariants(
    corpus: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantum: float = 1e4,
) -> DataFrame:
    """(vec_id, ortho_ppm, pythag_q): per-vector SQL-checkable
    invariants of a trained PCA rotation — the value-hash oracle for a
    model whose raw projections are eigensolver-dependent (sign flips,
    near-tie ordering) and therefore not replayable in SQL.

    - ``ortho_ppm`` = ``round(max|R Rᵀ − I| · 1e6)`` over the k×k Gram
      of the component rows (driver-side numpy on the k×d model —
      exact integer, 0 for a healthy eigh basis).
    - ``pythag_q`` = ``round((‖Rᵀ(x−μ)‖² + ‖(x−μ) − R Rᵀ(x−μ)‖²) ·
      quantum)``: by Pythagoras this equals ``round(‖x−μ‖² · quantum)``
      IFF the rows of R are orthonormal and the centering/rotation/
      reconstruction arithmetic is right — and ``‖x−μ‖²`` is computable
      by any SQL engine from the parquet alone (per-dim AVG). Any bug
      in the model or its application breaks the equality; subspace
      OPTIMALITY is pinned separately by the planted-structure
      property test (not SQL-expressible).

    Entirely expression-level (array-literal zip_with/transform, the
    pca_project shape — no UDF, no shuffle); the reconstruction uses
    the UNQUANTIZED projection so Pythagoras holds to float64, far
    inside the 1e-4 quantum. Cross-engine seam: Spark centers at the
    model mean, the oracle at its own AVG — both float64 means of the
    same fixed data, differing O(1e-15), invisible at the quantum.
    """
    import numpy as np

    comps = np.asarray(model["components"], dtype=np.float64)
    gram = comps @ comps.T
    ortho_ppm = int(round(float(np.abs(gram - np.eye(len(comps))).max()) * 1e6))

    mean_lit = lit_doubles(list(model["mean"]))
    comps_lit = lit_doubles([list(c) for c in model["components"]])
    # d×k transpose literal for the reconstruction R·proj
    compsT_lit = lit_doubles([
        [float(comps[r][j]) for r in range(len(comps))]
        for j in range(comps.shape[1])
    ])

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    centered = F.zip_with(
        F.col(vec_col), mean_lit, lambda x, m: x.cast("double") - m
    )
    b = bind(
        scale_out(corpus.select(id_col, vec_col)), "_c", centered
    )
    proj = F.transform(comps_lit, lambda c: dot(F.col("_c"), c))
    b = bind(b, "_p", proj)
    recon = F.transform(compsT_lit, lambda row_j: dot(row_j, F.col("_p")))
    resid = F.zip_with(F.col("_c"), recon, lambda x, y: x - y)
    pythag = dot(F.col("_p"), F.col("_p")) + dot(resid, resid)
    return b.select(
        F.col(id_col).alias("vec_id"),
        F.lit(ortho_ppm).cast("long").alias("ortho_ppm"),
        F.round(pythag * F.lit(float(quantum))).cast("long").alias("pythag_q"),
    )


def sql_pca_invariants(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantum: float = 1e4,
) -> str:
    """DuckDB twin of :func:`pca_invariants`: a healthy model has
    ``ortho_ppm = 0`` (literal), and Pythagoras makes ``pythag_q`` equal
    ``round(‖x − μ‖² · quantum)`` — per-dim mean and the squared
    distance are plain SQL over the same parquet."""
    return f"""
    WITH dims AS (
      SELECT {id_col} AS vec_id,
             generate_subscripts({vec_col}, 1) AS j,
             CAST(unnest({vec_col}) AS DOUBLE) AS val
      FROM {table}
    ), mu AS (SELECT j, AVG(val) AS m FROM dims GROUP BY j)
    SELECT d.vec_id,
           CAST(0 AS BIGINT) AS ortho_ppm,
           CAST(round(SUM((d.val - mu.m) * (d.val - mu.m))
                      * {float(quantum)}) AS BIGINT) AS pythag_q
    FROM dims d JOIN mu USING (j)
    GROUP BY d.vec_id
    """


def write_pca_model(model: dict, path: str) -> None:
    """Persist a :func:`pca_train` rotation (the sidecar pattern of
    every persisted index here: train once offline, project every
    ingest batch with the frozen model — retraining on append would
    rotate new vectors into a different basis than the stored ones)."""
    import json
    from pathlib import Path

    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    write_atomic(p / "_pca_model.json", json.dumps(model))


def load_pca_model(path: str) -> dict:
    from pathlib import Path

    return read_json(Path(path) / "_pca_model.json")


# -- Contrastive hard-negative mining ----------------------------------------

def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each query vector, the ``k`` nearest corpus vectors whose
    ``label_col`` DIFFERS from the query's — the near-but-wrong
    examples a bi-encoder learns the most from (the in-batch-negative
    upgrade every dense-retrieval recipe ships).

    Exact form: ``queries`` is broadcast (a map-side nested loop over
    the corpus scan — no shuffle), the different-label predicate is
    applied BEFORE ranking so the window ranks only eligible
    negatives, then a per-query top-k window. At scale, swap the
    corpus scan for :func:`ann_topk_ivf`'s probed cells with an
    over-fetch factor (a label filter AFTER an ANN top-k must fetch
    more than k to survive the filter); the exact form is the recall
    oracle for that path.

    Returns (query_id, query_label, vec_id, neg_label, cosine_sim,
    rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("q_vec"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("c_vec"),
    )
    paired = c.crossJoin(F.broadcast(q)).where(
        F.col("neg_label") != F.col("query_label")
    )
    scored = paired.select(
        "query_id", "query_label", "vec_id", "neg_label",
        _cos_named("q_vec", "c_vec").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "vec_id", "neg_label",
            "cosine_sim", F.col("rank").cast("int").alias("rank"),
        )
    )


def sql_hard_negatives(
    table: str = "embeddings", query_pred: str = "vec_id < 3", k: int = 5
) -> str:
    """DuckDB twin of :func:`hard_negatives` (same double-precision
    cosine, same different-label predicate before the rank)."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS query_label, embedding AS q_vec
      FROM {table} WHERE {query_pred}
    ),
    pairs AS (
      SELECT q.query_id, q.query_label, c.vec_id, c.label AS neg_label,
             {_SQL_COS.format(a="q.q_vec", b="c.embedding")} AS cosine_sim
      FROM {table} c, q
      WHERE c.label != q.query_label
    ),
    ranked AS (
      SELECT query_id, query_label, vec_id, neg_label, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank
      FROM pairs
    )
    SELECT query_id, query_label, vec_id, neg_label, cosine_sim, rank
    FROM ranked WHERE rank <= {k}
    """
