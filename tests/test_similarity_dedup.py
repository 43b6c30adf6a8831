"""Edge-semantics tests for similarity / dedup operators (the oracle
harness covers value parity; these cover shapes the synthetic tables
don't exercise)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webhookdb_spark.operators import dedup as D
from webhookdb_spark.operators import similarity as S


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_identical_docs_full_jaccard(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely here now again ok"),
        ],
    )
    out = D.minhash_dedup_pairs(df).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(1, 2, 1.0)]


def test_minhash_drops_empty_and_short_docs(spark):
    # fewer tokens than the shingle width => zero shingles => dropped
    df = _docs(spark, [(1, "one two"), (2, ""), (3, "a b c d e")])
    sigs = D.minhash_signatures(df)
    assert [r.doc_id for r in sigs.select("doc_id").collect()] == [3]


def test_shingles_match_bound_and_unbound_paths(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "x y")])
    direct = df.select(
        "doc_id", D.shingles(F.col("text"), 3).alias("sh")
    ).collect()
    bound = (
        D.shingle_sets(df, "text", 3).select("doc_id", "_sh").collect()
    )
    assert {r.doc_id: r.sh for r in direct} == {r.doc_id: r._sh for r in bound}


def test_simhash_identical_fingerprints(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "")])
    rows = D.simhash(df).collect()
    fp = {r.doc_id: r.simhash for r in rows}
    assert fp[1] == fp[2]
    # split("") yields [""] on both engines, so the empty doc keeps a
    # (distinct) fingerprint rather than being dropped
    assert fp[3] != fp[1]


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_assign_self_centroid(spark):
    vs = _vecs(
        spark,
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]), (3, [-0.1, 0.8])],
    )
    cents = S.ivf_centroids(vs, n_centroids=2)
    assert cents == [[1.0, 0.0], [0.0, 1.0]]
    assigned = {r.vec_id: r.cent_id for r in S.ivf_assign(vs, cents).collect()}
    assert assigned == {0: 0, 1: 1, 2: 0, 3: 1}


def test_ivf_topk_finds_same_cell_neighbor(spark):
    vs = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.95, 0.05]),
            (3, [0.05, 0.95]),
        ],
    )
    out = S.ann_topk_ivf(vs, vs.where(F.col("vec_id") == 2), k=1, n_centroids=2, nprobe=1)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].vec_id == 0


def test_ann_lsh_multiprobe_recovers_hamming1_neighbor(spark):
    """An identical vector always shares the bucket; multiprobe must
    also surface near-misses one sign-bit away, and never duplicate a
    (query, vec) pair found by several tables/probes."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    vs = _vecs(
        spark,
        [(0, base)]
        + [(i, [x + rng.uniform(-0.05, 0.05) for x in base]) for i in range(1, 6)]
        + [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(6, 30)],
    )
    out = S.ann_topk_lsh(vs, vs.where(F.col("vec_id") == 0), k=5, n_planes=6, n_tables=2)
    rows = out.collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids)) == 5  # full k, no dup pairs
    # the 5 jittered near-copies dominate the top-k
    assert set(ids) == {1, 2, 3, 4, 5}
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]


def test_ann_lsh_recall_bounds_and_exact_copy(spark):
    """recall_at_k is in [0,1] per query, and a planted exact duplicate
    is always recalled (it shares every sign bit)."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    rows.append((100, list(rows[0][1])))  # exact copy of vec 0
    vs = _vecs(spark, rows)
    rec = S.ann_lsh_recall(vs, vs.where(F.col("vec_id") == 0), k=1, n_planes=6)
    got = rec.collect()
    assert len(got) == 1 and got[0].recall_at_k == 1.0


def test_embedding_near_dup_catches_duplicate_vector(spark):
    vs = _vecs(
        spark,
        [(0, [0.5, 0.5, 0.1]), (1, [0.5, 0.5, 0.1]), (2, [-0.9, 0.1, 0.0])],
    )
    rows = S.embedding_near_dup_pairs(vs, threshold=0.99, n_planes=4, bands=2).collect()
    assert [(r.vec_a, r.vec_b) for r in rows] == [(0, 1)]
    assert rows[0].cosine_sim == 1.0


def test_ann_lsh_recall_floor_on_random_fixture(spark):
    """Aggregate usefulness floor at the DEFAULT knobs on the real
    sf0.001 embeddings (round-1 failure mode: a knob change silently
    zeroed recall; exact-copy recall alone can't catch that).
    Measured at commit time: mean recall@5 = 0.64 over 5 queries
    (per-query 0.6/0.2/0.6/0.8/1.0; multi-table hamming-1 multiprobe,
    n_planes=6, n_tables=4 — the 8-plane default measured 0.32, which
    is what motivated the 6-bit tables)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    rec = S.ann_lsh_recall(emb, queries, k=5, n_dims=64)
    rows = rec.collect()
    assert len(rows) == 5
    mean_recall = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean_recall >= 0.6, f"mean recall@5 collapsed to {mean_recall}"


def test_ivf_refine_balances_cells(spark):
    """Deterministic Lloyd refinement must (a) keep the operator exact
    and (b) improve cell-size balance over the raw first-C seeds on the
    synthetic embeddings (skew ratio = max/mean cell size)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = S.ivf_centroids(emb, n_centroids=8)
    refined = S.ivf_refine(emb, seeds)

    def skew(cents):
        counts = [
            r.n
            for r in S.ivf_assign(emb, cents)
            .groupBy("cent_id").agg(F.count("*").alias("n")).collect()
        ]
        return max(counts) * len(counts) / sum(counts), len(counts)

    seed_skew, seed_cells = skew(seeds)
    ref_skew, ref_cells = skew(refined)
    assert ref_cells >= seed_cells  # refinement must not lose live cells
    assert ref_skew < seed_skew, (seed_skew, ref_skew)


def test_ivf_refine_fixed_point_means_match_duckdb(spark):
    """The fixed-point mean rule is engine-exact: DuckDB computing the
    same refinement from the same parquet produces bit-identical
    centroid lists."""
    import duckdb

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    refined = S.ivf_refine(emb, S.ivf_centroids(emb, n_centroids=4))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    cos = S._SQL_COS.format(a="e.embedding", b="c.cvec")
    rows = con.execute(f"""
        WITH cent0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cent_id,
                 list_transform(embedding, x -> x::DOUBLE) AS cvec
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
        ),
        assign0 AS (
          SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos} DESC, c.cent_id ASC) AS rn
            FROM embeddings e CROSS JOIN cent0 c
          ) WHERE rn = 1
        )
        SELECT cent_id, list(m ORDER BY pos) FROM (
          SELECT cent_id, u.i AS pos,
                 floor(sum(CAST(floor(a.embedding[u.i]::DOUBLE * 1000000) AS BIGINT))
                       / count(*)) / 1000000 AS m
          FROM assign0 a, unnest(range(1, len(a.embedding) + 1)) AS u(i)
          GROUP BY 1, 2
        ) GROUP BY 1 ORDER BY 1
    """).fetchall()
    duck = {cid: lst for cid, lst in rows}
    for cid, vec in enumerate(refined):
        if cid in duck:
            assert vec == duck[cid], f"cent {cid} diverged"


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's core property: two documents sharing a run of
    w + k - 1 characters (here 11) must share at least one fingerprint;
    unrelated documents of distinct alphabets share none."""
    from webhookdb_spark.operators.text import winnow_fingerprints

    shared = "identical shared passage of text here"
    df = _docs(
        spark,
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC " + shared + " DDDD"),
            (3, "zz qq ww ee rr tt yy uu ii oo pp"),
        ],
    )
    fps = winnow_fingerprints(df, k=8, w=4)
    by_doc = {
        d: {r.fp for r in rows}
        for d, rows in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r.doc_id), key=lambda r: r.doc_id
        )
    }
    assert by_doc[1] & by_doc[2], "shared passage produced no shared fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_scrub_pii_redacts_and_counts(spark):
    from webhookdb_spark.operators.text import scrub_pii

    df = _docs(
        spark,
        [
            (1, "mail a.b+c@ex-amp.le.org and b@c.io see https://x.io/p?q=1"),
            (2, "call +1 (555) 000-1234 now"),
            (3, "nothing sensitive here"),
        ],
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert rows[1].n_email == 2 and rows[1].n_url == 1 and rows[1].n_phone == 0
    assert "<EMAIL>" in rows[1].scrubbed_text and "<URL>" in rows[1].scrubbed_text
    assert "@" not in rows[1].scrubbed_text.replace("<EMAIL>", "")
    assert rows[2].n_phone == 1 and "<PHONE>" in rows[2].scrubbed_text
    assert rows[3].scrubbed_text == "nothing sensitive here"


def test_bpe_token_count_vs_whitespace(spark):
    from webhookdb_spark.operators.text import token_count_bpe

    df = _docs(spark, [(1, "it's spark-graft v2.0, really")])
    r = token_count_bpe(df).collect()[0]
    # 'it' 's ' spark' '-' 'graft' ' v' '2' '.' '0' ',' ' really'
    assert r.n_bpe_tokens == 11 and r.n_ws_tokens == 4
    assert r.bpe_per_word == 2.75


def test_bpe2_counts_credit_real_merges(spark):
    """Real-BPE counting: merges from the trained table shrink letter
    runs, units match a reference Python application of the same merge
    table, and non-letter pretokens count 1 each."""
    from webhookdb_spark.operators.text import BPE_MERGES, token_count_bpe2

    def py_bpe_len(word: str) -> int:
        w = word.lower()
        for pair, sym in BPE_MERGES:
            w = w.replace(pair, sym)
        return len(w)

    df = _docs(spark, [(1, "winter is starting, v2.0!"), (2, "erererer")])
    rows = {r.doc_id: r for r in token_count_bpe2(df).collect()}
    # doc 1 pretokens: 'winter'(letters) ' is' ' starting' ','(1) ' v'
    # '2'(1) '.'(1) '0'(1) '!'(1)
    want1 = (py_bpe_len("winter") + py_bpe_len("is") + py_bpe_len("starting")
             + 1 + py_bpe_len("v") + 1 + 1 + 1 + 1)
    assert rows[1].n_bpe2_tokens == want1
    assert rows[1].n_pretokens == 9
    # 'erererer' → 'AAAA' under the first merge: 4 units from 8 chars
    assert rows[2].n_bpe2_tokens == 4
    # and real-BPE counts are <= pretokenizer-count × max word len trivially,
    # but strictly less when merges fire:
    assert rows[2].n_bpe2_tokens < 8


def test_ivf_refine_sampled_matches_manual_subset(spark):
    """sample_fraction refines on the deterministic md5-bucket sample:
    identical to refining on the manually-filtered subset (the property
    that lets an oracle reproduce a sampled refinement)."""
    from webhookdb_spark.operators.sampling import hash_fraction_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = S.ivf_centroids(emb, n_centroids=4)
    sampled = S.ivf_refine(emb, seeds, sample_fraction=0.5)
    manual = S.ivf_refine(hash_fraction_sample(emb, 0.5, id_col="vec_id"), seeds)
    assert sampled == manual
    assert sampled != S.ivf_refine(emb, seeds)  # and it genuinely sampled


def test_segment_dedup_strips_shared_run_and_keeps_first(spark):
    """A verbatim run of >= 2k-1 tokens shared by two docs must lose at
    least one aligned segment in the later doc; the earlier doc keeps
    its full text. A fully-duplicated doc survives as an empty row."""
    from webhookdb_spark.operators.dedup import segment_dedup

    run = " ".join(f"w{i}" for i in range(15))  # 15 >= 2*8-1
    df = spark.createDataFrame(
        [
            (1, "alpha " + run + " omega"),
            (2, run + " tail unique words here beyond the shared run"),
            (3, "totally different content with no overlap at all"),
            (4, run[: run.rindex(" ")]),  # prefix - may or may not collide
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(df).collect()}
    assert out[1].n_dropped == 0
    assert out[1].clean_text == "alpha " + run + " omega"
    assert out[3].n_dropped == 0
    # doc 2 shares tokens w0..w14 but its segments are differently
    # aligned than doc 1's ("alpha" shifts them) -- the 2k-1 guarantee
    # applies to IDENTICALLY tokenized docs; verify the exact-alignment
    # case instead:
    df2 = spark.createDataFrame(
        [(10, run + " x y z"), (11, run + " p q r")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r for r in segment_dedup(df2).collect()}
    assert out2[10].n_dropped == 0
    assert out2[11].n_dropped == 1  # first aligned 8-token block collides
    assert out2[11].clean_text.startswith("w8")


def test_segment_dedup_fully_duplicated_doc_is_empty_not_missing(spark):
    from webhookdb_spark.operators.dedup import segment_dedup

    text = " ".join(f"t{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in segment_dedup(df).collect()}
    assert out[1].clean_text == text
    assert out[2].clean_text == ""
    assert out[2].n_dropped == out[2].n_segments == 2


def test_lm_familiarity_separates_in_domain_from_gibberish(spark):
    """Held-out text made of reference-corpus transitions must outscore
    unseen-vocabulary text, and unseen bigrams are counted."""
    from webhookdb_spark.operators.text import lm_familiarity

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (100, "the quick brown fox"),
            (101, "zxq vbnm qwerty asdfgh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lm_familiarity(score, model_df=ref).collect()}
    assert out[100].unseen_bigrams == 0
    assert out[101].unseen_bigrams == 3 == out[101].n_bigrams
    assert out[100].lm_score > out[101].lm_score


def test_pq_codes_domain_and_compression(spark):
    """Every vector compresses to exactly m codes, each in [0, ksub)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = S.pq_codebooks(emb, m=8, ksub=8, n_refine=1)
    assert len(cbs) == 8 and len(cbs[0]) == 8 and len(cbs[0][0]) == 8
    codes = S.pq_encode(emb, cbs).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.codes) == 8
        assert all(0 <= c < 8 for c in r.codes)


def test_pq_recall_floor_vs_brute_force(spark):
    """ADC ranking over 8-byte codes must keep a usable fraction of the
    exact top-5 on the random sf0.001 embeddings (random vectors are
    PQ's adversarial case — no cluster structure for the codebooks to
    exploit; measured 0.28 at commit time, against 5/500 = 0.01 for a
    random ranking)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in S.ann_topk_pq(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"PQ recall@5 collapsed to {recall}"


def test_ivfpq_recall_floor_and_probe_containment(spark):
    """IVF-PQ results must be a subset of the probed cells' members and
    keep a usable fraction of the exact top-5 (it degrades vs flat PQ
    only by the probe miss rate)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    got = S.ann_topk_ivfpq(emb, queries, k=5).collect()
    approx = {(r.query_id, r.vec_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15, f"IVF-PQ recall@5 collapsed to {recall}"
    # containment: every hit must live in one of its query's probed cells
    cents = S.ivf_centroids(emb, 8)
    cents = S.ivf_refine(emb, cents)
    assigned = {r.vec_id: r.cent_id for r in S.ivf_assign(emb, cents).collect()}
    probed = {}
    from pyspark.sql.window import Window as W

    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cent_id int, cent_vec array<double>"
    )
    q = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cscore", S._cos_named("q_vec", "cent_vec"))
    )
    pw = W.partitionBy("query_id").orderBy(F.col("cscore").desc(), F.col("cent_id").asc())
    for r in (
        q.withColumn("prank", F.row_number().over(pw)).where("prank <= 2").collect()
    ):
        probed.setdefault(r.query_id, set()).add(r.cent_id)
    for r in got:
        assert assigned[r.vec_id] in probed[r.query_id], r


def test_incremental_dedup_stored_index_equals_cold_start(spark, tmp_path):
    """Passing a PERSISTED band index must give exactly the cold-start
    result — the stored artifact is a pure cache, and the new batch's
    plan must not rescan the corpus text for candidate generation."""
    from webhookdb_spark.operators.dedup import (
        incremental_minhash_dedup, lsh_bands, minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)

    cold = sorted(
        tuple(r) for r in incremental_minhash_dedup(new, corpus).collect()
    )
    idx_path = str(tmp_path / "bands")
    lsh_bands(minhash_signatures(corpus)).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    warm = sorted(
        tuple(r)
        for r in incremental_minhash_dedup(
            new, corpus, corpus_bands=stored
        ).collect()
    )
    assert cold == warm and len(cold) > 0


def test_incremental_dedup_index_survives_restart_across_batches(spark, tmp_path):
    """The 100 TB operating mode end-to-end: build the band index once,
    persist it to parquet, then process TWO sequential batches against
    the persisted index across a simulated restart (fresh reads, no
    lineage to the builder). Batch-1 survivors are appended to the
    stored index (batch-sized write) before batch 2 — the corpus text
    is never re-signatured. Batch-1 results are verified against the
    DuckDB twin; batch-2 results must equal the cold-start computation
    over the grown corpus."""
    import duckdb

    from webhookdb_spark.operators.dedup import (
        incremental_minhash_dedup, lsh_bands, minhash_signatures,
        sql_incremental_minhash_dedup,
    )

    src = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(src)
    corpus = docs.where(F.col("doc_id") % 5 >= 2)
    batch1 = docs.where(F.col("doc_id") % 5 == 0)
    batch2 = docs.where(F.col("doc_id") % 5 == 1)

    idx = str(tmp_path / "band_index")
    lsh_bands(minhash_signatures(corpus)).write.parquet(idx)

    # ---- restart boundary: everything below reads the index from disk
    stored = spark.read.parquet(idx)
    got1 = sorted(
        tuple(r)
        for r in incremental_minhash_dedup(
            batch1, corpus, corpus_bands=stored
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{src}'")
    con.execute(
        "CREATE VIEW d2 AS SELECT * FROM documents WHERE doc_id % 5 != 1"
    )
    want1 = sorted(
        tuple(r)
        for r in con.execute(
            sql_incremental_minhash_dedup(table="d2", new_pred="doc_id % 5 = 0")
        ).fetchall()
    )
    assert got1 == want1 and len(got1) > 0

    # append batch-1 survivors' bands (batch-sized work) and reload
    dup1 = {t[0] for t in got1}
    survivors1 = batch1.where(~F.col("doc_id").isin(*dup1) if dup1 else F.lit(True))
    lsh_bands(minhash_signatures(survivors1)).write.mode("append").parquet(idx)
    stored2 = spark.read.parquet(idx)

    corpus2 = corpus.unionByName(survivors1)
    got2 = sorted(
        tuple(r)
        for r in incremental_minhash_dedup(
            batch2, corpus2, corpus_bands=stored2
        ).collect()
    )
    cold2 = sorted(
        tuple(r) for r in incremental_minhash_dedup(batch2, corpus2).collect()
    )
    assert got2 == cold2 and len(got2) > 0


def test_bloom_decontaminate_superset_of_exact_and_joinless(spark):
    """Bloom flags must be a SUPERSET of exact decontamination flags
    (a Bloom filter has false positives, never false negatives), and
    the probe plan must be join-free — the whole point is scoring the
    corpus against a fixed-size broadcast bitmap with a narrow map."""
    from tests.test_plans import plan_of
    from webhookdb_spark.operators.dedup import (
        bloom_decontaminate, decontaminate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.where(F.col("doc_id") % 7 == 0)
    tr = docs.where(F.col("doc_id") % 7 != 0)

    exact = {r.doc_id for r in decontaminate(tr, ev).collect() if r.contaminated}
    out = bloom_decontaminate(tr, ev)
    bloom = {r.doc_id for r in out.collect() if r.flagged}
    assert exact and exact <= bloom

    p = plan_of(out)
    assert "Join" not in p and "Exchange" not in p.split("AdaptiveSparkPlan")[0], p


def test_persisted_lsh_index_matches_inline_and_prunes_partitions(spark, tmp_path):
    """write_lsh_index + query_lsh_index must return exactly the
    inline ann_topk_lsh results (same knobs, same corpus) and the
    query's scan must list ONLY probed bucket directories — the
    build-once / partition-pruned-query operating mode."""
    from webhookdb_spark.operators.similarity import (
        ann_topk_lsh,
        query_lsh_index,
        write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id < 3")
    inline = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine_sim, 9))
        for r in ann_topk_lsh(
            emb, queries, k=5, n_planes=6, n_tables=4
        ).collect()
    }
    idx_path = str(tmp_path / "lsh_idx")
    write_lsh_index(emb, idx_path, n_planes=6, n_tables=4)
    from_index_df = query_lsh_index(spark, idx_path, queries, k=5)
    from_index = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine_sim, 9))
        for r in from_index_df.collect()
    }
    assert from_index == inline

    # partition pruning: with multiprobe off a single query probes
    # exactly 4 (tbl, sig) buckets — the scan must list only those
    # directories, a strict subset of the index
    one = query_lsh_index(
        spark, idx_path, queries.where("vec_id = 0"), k=5, multiprobe=False
    )
    plan = one._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the scan must carry the 4 literal (tbl, sig) partition predicates
    # (planning-time directory pruning), with sig compared as a STRING —
    # inference would silently strip the leading zeros
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "tbl" in pf[0] and "sig" in pf[0], plan
    assert pf[0].count("AND (sig") == 4, pf[0]
    import json as _json
    from pathlib import Path as _P

    from pyspark.sql import types as _T

    meta = _json.loads((_P(idx_path) / "_lsh_meta.json").read_text())
    schema = _T.StructType.fromJson(_json.loads(meta["schema"]))
    sig_vals = {
        r.sig
        for r in spark.read.schema(schema).parquet(idx_path)
        .select("sig").distinct().collect()
    }
    assert all(len(s) == 6 for s in sig_vals)  # string sigs, zeros kept


def test_persisted_ivf_index_matches_inline_and_prunes_cells(spark, tmp_path):
    """write_ivf_index + query_ivf_index equal inline ann_topk_ivf
    (same knobs — the sidecar centroids are the trained quantizer) and
    the query scan carries literal cent_id partition predicates."""
    from webhookdb_spark.operators.similarity import (
        ann_topk_ivf,
        query_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id < 3")
    inline = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine_sim, 9))
        for r in ann_topk_ivf(
            emb, queries, k=5, n_centroids=8, nprobe=2, n_refine=1
        ).collect()
    }
    p = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, p, n_centroids=8, n_refine=1)
    got_df = query_ivf_index(spark, p, queries, k=5, nprobe=2)
    got = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine_sim, 9))
        for r in got_df.collect()
    }
    assert got == inline

    plan = got_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cent_id" in pf[0], plan


def test_index_append_equals_single_shot_build(spark, tmp_path):
    """Appending to a persisted index must be indistinguishable from
    building it in one shot (LSH: deterministic planes; IVF: the
    sidecar quantizer is reused, never retrained on append)."""
    from webhookdb_spark.operators.similarity import (
        append_to_ivf_index,
        append_to_lsh_index,
        query_ivf_index,
        query_lsh_index,
        write_ivf_index,
        write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half1, half2 = emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")
    queries = emb.where("vec_id < 3")

    def res(df):
        return {
            (r.query_id, r.rank): (r.vec_id, round(r.cosine_sim, 9))
            for r in df.collect()
        }

    # LSH
    grown = str(tmp_path / "lsh_grown")
    write_lsh_index(half1, grown, n_planes=6, n_tables=4)
    append_to_lsh_index(half2, grown)
    oneshot = str(tmp_path / "lsh_oneshot")
    write_lsh_index(emb, oneshot, n_planes=6, n_tables=4)
    assert res(query_lsh_index(spark, grown, queries, k=5)) == res(
        query_lsh_index(spark, oneshot, queries, k=5)
    )

    # IVF: the one-shot comparison uses the SAME half1-trained quantizer
    grown_i = str(tmp_path / "ivf_grown")
    write_ivf_index(half1, grown_i, n_centroids=8, n_refine=1)
    import json
    from pathlib import Path

    cents = json.loads((Path(grown_i) / "_ivf_meta.json").read_text())["centroids"]
    append_to_ivf_index(half2, grown_i)
    oneshot_i = str(tmp_path / "ivf_oneshot")
    write_ivf_index(emb, oneshot_i, centroids=cents)
    assert res(query_ivf_index(spark, grown_i, queries, k=5, nprobe=2)) == res(
        query_ivf_index(spark, oneshot_i, queries, k=5, nprobe=2)
    )


def test_persisted_lsh_empty_probe_schema_matches_nonempty(spark, tmp_path):
    """query_lsh_index's empty-query early return must carry the SAME
    schema as the non-empty path — ids inherited from the queries /
    sidecar, not hardcoded long — so unions of per-batch results never
    break on a batch with zero queries (the ADVICE similarity.py
    finding, pinned with string ids)."""
    from webhookdb_spark.operators.similarity import (
        query_lsh_index,
        write_lsh_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where("vec_id < 50")
        .select(
            F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
            "embedding",
        )
    )
    idx_path = str(tmp_path / "lsh_idx_str")
    write_lsh_index(emb, idx_path, n_planes=4, n_tables=2)
    nonempty = query_lsh_index(spark, idx_path, emb.where("vec_id = 'doc-0'"), k=3)
    empty = query_lsh_index(spark, idx_path, emb.where("vec_id = 'no-such'"), k=3)
    assert empty.schema == nonempty.schema, (empty.schema, nonempty.schema)
    assert empty.count() == 0
    # and the union a batched caller would build is legal
    assert nonempty.unionByName(empty).count() == nonempty.count()


def test_persisted_pq_and_ivfpq_match_inline_and_append(spark, tmp_path):
    """Completing the persisted-index family: the PQ and IVF-PQ stores
    must (a) answer queries identically to the inline operators with
    the same knobs, and (b) grow by append (frozen sidecar
    centroids/codebooks, never retrained) into exactly the index a
    one-shot build with the same quantizer produces."""
    from webhookdb_spark.operators.similarity import (
        ann_topk_ivfpq,
        ann_topk_pq,
        append_to_ivfpq_index,
        append_to_pq_index,
        query_ivfpq_index,
        query_pq_index,
        write_ivfpq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half1, half2 = emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")
    queries = emb.where("vec_id < 3")

    def res(df):
        return {
            (r.query_id, r.rank): (r.vec_id, round(r.approx_ip, 9))
            for r in df.collect()
        }

    # (a) persisted == inline, same knobs, full corpus
    pq_full = str(tmp_path / "pq_full")
    write_pq_index(emb, pq_full, m=8, ksub=8, n_refine=1)
    assert res(query_pq_index(spark, pq_full, queries, k=5)) == res(
        ann_topk_pq(emb, queries, k=5, m=8, ksub=8, n_refine=1)
    )
    ivfpq_full = str(tmp_path / "ivfpq_full")
    write_ivfpq_index(emb, ivfpq_full, n_centroids=8, m=8, ksub=8, n_refine=1)
    assert res(query_ivfpq_index(spark, ivfpq_full, queries, k=5, nprobe=2)) == res(
        ann_topk_ivfpq(emb, queries, k=5, n_centroids=8, nprobe=2,
                       m=8, ksub=8, n_refine=1)
    )

    # (b) grown == one-shot with the SAME (half1-trained) quantizer
    import json
    from pathlib import Path

    pq_grown = str(tmp_path / "pq_grown")
    write_pq_index(half1, pq_grown, m=8, ksub=8, n_refine=1)
    cbs = json.loads((Path(pq_grown) / "_pq_meta.json").read_text())["codebooks"]
    append_to_pq_index(half2, pq_grown)
    pq_one = str(tmp_path / "pq_one")
    write_pq_index(emb, pq_one, codebooks=cbs)
    assert res(query_pq_index(spark, pq_grown, queries, k=5)) == res(
        query_pq_index(spark, pq_one, queries, k=5)
    )

    ivfpq_grown = str(tmp_path / "ivfpq_grown")
    write_ivfpq_index(half1, ivfpq_grown, n_centroids=8, m=8, ksub=8,
                      n_refine=1)
    meta = json.loads((Path(ivfpq_grown) / "_ivfpq_meta.json").read_text())
    append_to_ivfpq_index(half2, ivfpq_grown)
    ivfpq_one = str(tmp_path / "ivfpq_one")
    write_ivfpq_index(emb, ivfpq_one, centroids=meta["centroids"],
                      codebooks=meta["codebooks"])
    assert res(query_ivfpq_index(spark, ivfpq_grown, queries, k=5, nprobe=2)) == res(
        query_ivfpq_index(spark, ivfpq_one, queries, k=5, nprobe=2)
    )


def test_persisted_ivfpq_query_prunes_cells_and_reads_only_codes(spark, tmp_path):
    """The 100 TB IVF-PQ property, on the PERSISTED form: probed cells
    become planning-time partition filters (directory pruning) and the
    index scan's ReadSchema carries ONLY the codes — never a float
    embedding column — so the scan cost is nprobe/C of a ~32x
    compressed store (the plan gate matching
    test_pq_adc_scan_reads_only_codes)."""
    import re

    from webhookdb_spark.operators.similarity import (
        query_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "ivfpq_plan")
    write_ivfpq_index(emb, p, n_centroids=8, m=8, ksub=8, n_refine=1)
    out = query_ivfpq_index(spark, p, emb.where("vec_id < 2"), k=5, nprobe=2)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cent_id" in pf[0], plan
    scans = re.findall(r"ReadSchema: (\S+)", plan)
    codes_scan = [s for s in scans if "codes" in s]
    assert codes_scan and all("embedding" not in s for s in codes_scan), scans


def test_rp_project_jl_distortion_and_determinism(spark):
    """The JL contract: random projection to k dims preserves pairwise
    L2 distances within the JL distortion band on average (the
    guarantee is about DISTANCES — top-k rank order on isotropic
    random data is NOT preserved and is not claimed). Also: the
    projection is deterministic across runs/partitionings, plane
    family "rp" is independent of the LSH "plane" family, and the
    plan stays expression-only (no UDF, no shuffle before the scan)."""
    import math

    from webhookdb_spark.operators.similarity import (
        hyperplanes,
        rp_project,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where("vec_id < 60")
    orig = {r.vec_id: r.embedding for r in emb.collect()}
    proj = {r.vec_id: r.embedding for r in rp_project(emb, 16).collect()}
    ids = sorted(orig)

    def l2(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = []
    for i in range(0, 40, 2):
        a, b = ids[i], ids[i + 1]
        d0, d1 = l2(orig[a], orig[b]), l2(proj[a], proj[b])
        assert d0 > 0
        ratios.append(d1 / d0)
    mean = sum(ratios) / len(ratios)
    # k=16 gives eps ~ sqrt(8 ln n / k) — loose; assert the mean ratio
    # is near 1 and no pair collapses to zero or explodes
    assert 0.7 < mean < 1.3, (mean, ratios)
    assert all(0.25 < r < 2.5 for r in ratios), ratios

    # determinism under repartitioning
    again = {r.vec_id: r.embedding
             for r in rp_project(emb.repartition(7), 16).collect()}
    assert again == proj

    # independent plane families
    assert hyperplanes(2, 4, tag="rp") != hyperplanes(2, 4, tag="plane")

    # expression-only plan
    plan = rp_project(emb, 16)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_pca_recovers_planted_structure_and_freezes(spark, tmp_path):
    """PCA contract (property-pinned; eigendecomposition has no SQL
    oracle): components are orthonormal with descending explained
    variance; variance planted in 2 known directions is recovered by
    the top-2 components; the persisted model projects appended
    vectors under the FROZEN rotation identically to train-time
    projection; the projection plan is expression-only."""
    import math

    from webhookdb_spark.operators.similarity import (
        load_pca_model,
        pca_project,
        pca_train,
        write_pca_model,
    )

    # plant: dims 3 and 11 carry variance 100/25; all others noise ~1
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(400):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        v[3] += rnd.gauss(0, 10)
        v[11] += rnd.gauss(0, 5)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    model = pca_train(df, k=4)
    comps, expl = model["components"], model["explained"]
    # descending explained variance
    assert expl == sorted(expl, reverse=True)
    # orthonormal rows
    for i in range(4):
        assert abs(sum(x * x for x in comps[i]) - 1) < 1e-9
        for j in range(i + 1, 4):
            assert abs(sum(a * b for a, b in zip(comps[i], comps[j]))) < 1e-9
    # top component is dominated by planted dim 3, second by dim 11
    assert max(range(16), key=lambda d: abs(comps[0][d])) == 3
    assert max(range(16), key=lambda d: abs(comps[1][d])) == 11
    assert expl[0] > expl[1] > 5 * expl[2]

    # frozen-model stability: persist, reload, project an "appended"
    # batch — identical to projecting it with the in-memory model
    write_pca_model(model, str(tmp_path / "pca"))
    frozen = load_pca_model(str(tmp_path / "pca"))
    appended = df.where("vec_id >= 300")
    a = sorted((r.vec_id, tuple(r.embedding))
               for r in pca_project(appended, frozen).collect())
    b = sorted((r.vec_id, tuple(r.embedding))
               for r in pca_project(appended, model).collect())
    assert a == b

    # projection variance along component 0 ~ explained[0]
    proj = [r.embedding[0] for r in pca_project(df, model).collect()]
    mu = sum(proj) / len(proj)
    var = sum((x - mu) ** 2 for x in proj) / len(proj)
    assert abs(var - expl[0]) / expl[0] < 0.05

    # expression-only projection plan
    plan = pca_project(df, model)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_normalize_then_dedup_catches_variants(spark):
    """Normalization makes exact dedup catch case/accent/punctuation
    variants that raw exact dedup misses — the composition it exists
    for — and agrees byte-for-byte with the DuckDB twin."""
    import duckdb

    from webhookdb_spark.operators.text import (
        normalize_text,
        sql_normalize_text,
    )

    rows = [
        (1, "The quick—brown FOX!"),
        (2, "  the QUICK  brown fox "),
        (3, "Thé qüick brown fôx"),
        (4, "an entirely different document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = normalize_text(df)
    groups = norm.groupBy("norm").count().collect()
    by_n = {r.norm: r["count"] for r in groups}
    assert by_n["the quick brown fox"] == 3
    assert by_n["an entirely different document"] == 1
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(con.execute(
        "SELECT doc_id, norm FROM (" + sql_normalize_text("t") + ")").fetchall())
    got = sorted((r.doc_id, r.norm) for r in norm.collect())
    assert got == want


def test_kmv_incremental_merge_equals_one_shot(spark):
    """Mergeable KMV: state built from N batches and folded with
    kmv_merge must EQUAL the one-shot sketch over the union — arrays
    identical, estimates identical (k smallest of a union is the k
    smallest of the parts' k-smallest sets) — including groups present
    in only one batch."""
    from webhookdb_spark.operators.sketches import (
        kmv_distinct,
        kmv_estimate_from_state,
        kmv_merge,
        kmv_state,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where("doc_id % 3 = 0")
    b2 = docs.where("doc_id % 3 = 1")
    b3 = docs.where("doc_id % 3 = 2")
    k = 32
    grown = kmv_merge(
        kmv_merge(kmv_state(b1, "lang", "text", k),
                  kmv_state(b2, "lang", "text", k), k),
        kmv_state(b3, "lang", "text", k), k,
    )
    oneshot = kmv_state(docs, "lang", "text", k)
    g = {r.lang: list(r.hs) for r in grown.collect()}
    o = {r.lang: list(r.hs) for r in oneshot.collect()}
    assert g == o
    est_g = sorted(map(tuple, kmv_estimate_from_state(grown, k).collect()))
    est_d = sorted(map(tuple, kmv_distinct(docs, "lang", "text", k).collect()))
    assert est_g == est_d

    # a batch introducing a brand-new group folds in via the outer join
    extra = spark.createDataFrame(
        [(9001, "zz", "unique text")], "doc_id long, lang string, text string"
    )
    folded = kmv_merge(grown, kmv_state(extra, "lang", "text", k), k)
    got = {r.lang: (r.est_distinct, r.exact_k)
           for r in kmv_estimate_from_state(folded, k).collect()}
    assert got["zz"] == (1, True)
    assert set(g) < set(got)


def test_ivf_near_dup_split_bounds_hot_cells(spark):
    """Cardinality-adaptive IVF blocking: a DIVERSE corpus over too few
    coarse cells (the corpus-grew-but-C-didn't case) makes every cell
    hot — quadratic candidates under plain cell blocking. With
    split_threshold the hot cells sub-key by sign-LSH bits: max
    (cell, sub) bucket must shrink by an order of magnitude, and
    planted EXACT duplicates must still be found (identical vectors
    share every sign bit). (A tight CLUSTER is not this case: there
    the output itself is quadratic and no blocking scheme can or
    should split it.)"""
    import random

    from pyspark.sql import functions as F

    from webhookdb_spark.operators.similarity import (
        embedding_near_dup_ivf,
        ivf_block_assignments,
    )

    rng = random.Random(17)
    d = 16

    def vec():
        return [round(rng.uniform(-1.0, 1.0), 4) for _ in range(d)]

    rows = [(i, vec()) for i in range(1500)]
    rows += [(10_000 + i, v) for i, v in rows[:50]]  # planted exact dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    plain = ivf_block_assignments(df, 4, split_threshold=None)
    split = ivf_block_assignments(df, 4, split_threshold=64, n_dims=d)

    def max_bucket(a):
        return (
            a.groupBy("cent_id", "_sub")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    mp, ms = max_bucket(plain), max_bucket(split)
    assert mp > 300, mp        # hot cells really are hot
    assert ms < mp / 5, (mp, ms)

    found = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_ivf(
            df, threshold=0.999, n_centroids=4,
            split_threshold=64, n_dims=d,
        ).collect()
    }
    assert {(i, 10_000 + i) for i in range(50)} <= found


def test_span_novelty_semantics(spark):
    """A doc sharing an 8-token run with another scores below 1e6
    ppm; a fully unique doc scores exactly 1e6; a doc repeating its
    own 8-token span counts the self-repeat as duplication; docs
    shorter than the window yield no row."""
    from webhookdb_spark.operators.dedup import span_novelty

    shared = "a b c d e f g h"
    rows = [
        (1, shared + " unique1 tail1 x1 y1 z1 w1 v1 u1"),
        (2, shared + " other2 tail2 x2 y2 z2 w2 v2 u2"),
        (3, "q r s t u v w x y z aa bb cc dd ee ff"),
        (4, shared + " " + shared),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_novelty(df, k=8).collect()}
    assert 5 not in out
    assert out[3].dup_windows == 0 and out[3].novelty_ppm == 1000000
    # docs 1 and 2: exactly the one shared leading window collides
    assert out[1].dup_windows >= 1 and out[1].novelty_ppm < 1000000
    assert out[2].dup_windows >= 1
    # doc 4 repeats the span internally AND shares it with 1/2
    assert out[4].dup_windows >= 2
    for r in out.values():
        assert r.novelty_ppm == (r.n_windows - r.dup_windows) * 1000000 // r.n_windows


def test_source_span_leakage_pairs_and_counts(spark):
    """Only source pairs that truly share a distinct window appear;
    counts are DISTINCT shared hashes (a window repeated many times in
    one source still counts once per pair); pair keys are ordered."""
    from webhookdb_spark.operators.dedup import source_span_leakage

    leak = "l1 l2 l3 l4 l5 l6 l7 l8"
    rows = [
        (1, "a", leak + " fill1 f2 f3 f4 f5 f6 f7"),
        (2, "b", leak + " other o2 o3 o4 o5 o6 o7"),
        (3, "b", leak + " again g2 g3 g4 g5 g6 g7"),
        (4, "c", "nothing shared here at all n1 n2 n3 n4 n5 n6 n7"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r.src_a, r.src_b): r.shared_spans
           for r in source_span_leakage(df, k=8).collect()}
    assert ("a", "b") in got and got[("a", "b")] == 1
    assert all(a < b for a, b in got)
    assert not any("c" in p for p in got)


def test_hard_negatives_excludes_same_label(spark):
    """Every mined negative has a label different from its query's,
    ranks are dense per query, and the top negative is the true
    nearest different-label vector (checked against a driver-side
    exact computation)."""
    import math

    from webhookdb_spark.operators.similarity import hard_negatives

    vecs = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # same label as 0 — must be excluded
        (2, [0.8, 0.2, 0.0], 1),   # nearest different-label to 0
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.9, 0.1], 2),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(df, df.where("vec_id = 0"), k=2).collect()
    assert all(r.neg_label != r.query_label for r in out)
    assert sorted(r.rank for r in out) == [1, 2]
    top = next(r for r in out if r.rank == 1)
    assert top.vec_id == 2


def test_span_store_grown_equals_one_shot(spark, tmp_path):
    """The persisted window-hash store's restart contract: write
    corpus A, append batch B, then a probe batch C's incremental
    novelty must equal the one-shot span_novelty(A ∪ B ∪ C) restricted
    to C's docs — and compaction must not change it."""
    from webhookdb_spark.operators.dedup import (
        append_span_store,
        batch_span_novelty,
        compact_span_store,
        span_novelty,
        write_span_store,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    a = mk([(1, shared + " a1 a2 a3 a4 a5 a6 a7"),
            (2, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")])
    b = mk([(3, "c1 c2 c3 c4 c5 c6 c7 c8 " + "d1 d2 d3 d4 d5 d6 d7 d8")])
    c = mk([(10, shared + " fresh f2 f3 f4 f5 f6 f7"),   # hits A
            (11, "c1 c2 c3 c4 c5 c6 c7 c8 x1 x2 x3 x4 x5 x6 x7"),  # hits B
            (12, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")])     # fully novel
    path = str(tmp_path / "spanstore")
    write_span_store(a, path, k=8)
    append_span_store(b, path)

    inc = {r.doc_id: tuple(r)[1:] for r in
           batch_span_novelty(c, spark, path).collect()}
    full = {r.doc_id: tuple(r)[1:] for r in
            span_novelty(a.unionByName(b).unionByName(c), k=8).collect()
            if r.doc_id >= 10}
    assert inc == full
    assert inc[12][1] == 0 and inc[12][2] == 1000000  # novel doc
    assert inc[10][1] >= 1 and inc[11][1] >= 1        # store hits

    compact_span_store(spark, path)
    inc2 = {r.doc_id: tuple(r)[1:] for r in
            batch_span_novelty(c, spark, path).collect()}
    assert inc2 == inc


def test_fuzzy_decontaminate_catches_paraphrase_exact_misses(spark):
    """A benchmark item with a few words swapped shares almost no
    exact 5-grams with its training twin but keeps a high shingle
    Jaccard — the fuzzy pass must flag it while the exact pass does
    not. Clean docs stay unflagged, and the broadcast discipline
    holds: the eval side reaches both joins as a broadcast, never a
    shuffle of the train corpus on band keys."""
    from tests.test_plans import plan_of

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    near = base.replace("echo", "zulu")  # one word swap: J ≈ 13/19
    train = _docs(spark, [
        (1, near),                                   # paraphrase of eval 100
        (2, "totally unrelated words about spark partitions and shuffles ok"),
    ])
    ev = _docs(spark, [(100, base)])

    exact = {r.doc_id: r.contaminated
             for r in D.decontaminate(train, ev, ngram_n=5).collect()}
    fuzzy = {r.doc_id: (r.contaminated, r.max_eval_jaccard, r.n_eval_matches)
             for r in D.fuzzy_decontaminate(train, ev, threshold=0.5).collect()}

    assert fuzzy[1][0] and fuzzy[1][1] >= 0.5 and fuzzy[1][2] == 1
    assert not fuzzy[2][0] and fuzzy[2][1] == 0.0
    # the paraphrase defeats exact 5-gram matching only at the edges
    assert fuzzy[1][1] < 1.0

    # The scale property, pinned directly: the eval side is broadcast
    # at the band join and the verify join (≥2 BroadcastHashJoin), the
    # TRAIN corpus is never shuffled on band keys, and nothing is a
    # nested-loop pairing. The remaining sort-merge joins both have a
    # candidate-sparse side that AQE converts at runtime.
    p = plan_of(D.fuzzy_decontaminate(train, ev))
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "hashpartitioning(band_key" not in p, p
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p


def test_cluster_safe_split_never_splits_a_near_dup_pair(spark):
    """Every member of a near-dup cluster lands in the SAME split —
    the leakage-free property a doc-level hash split cannot give —
    and the assignment is deterministic across invocations."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup) for i in range(6)] + [
        (10 + i, f"unique document number {i} with its own distinct words "
                 f"entirely unlike the others {i}") for i in range(6)
    ]
    df = _docs(spark, rows)
    out = D.cluster_safe_split(df, {"train": 0.5, "test": 0.5}).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # the 6 verbatim dups are one cluster on one side
    dup_rows = [r for r in out if r.doc_id < 6]
    assert len({r.cluster_id for r in dup_rows}) == 1
    assert len({r.split for r in dup_rows}) == 1
    again = D.cluster_safe_split(df, {"train": 0.5, "test": 0.5}).collect()
    assert {(r.doc_id, r.split) for r in again} == {
        (r.doc_id, r.split) for r in out
    }


def test_strip_markup_edge_semantics(spark):
    """Script bodies with tags inside strings, block-tag word
    boundaries, the entity table (incl. double-encoded &amp;lt;),
    comments, malformed bare '<', and empty docs."""
    import duckdb

    from webhookdb_spark.operators.text import sql_strip_markup, strip_markup

    rows = [
        (1, '<script>if (a<b) { x = "<td>nope</td>"; }</script>keep'),
        (2, "<p>one</p><p>two</p>"),            # block tags must not glue
        (3, "a &amp;lt; b &nbsp; c &#39;d&#39;"),  # entities, double-encoded
        (4, "<!-- secret --><B>bold</B> tail"),
        (5, "3 < 5 and x > 1"),                  # bare comparators survive*
        (6, ""),
        (7, "<style type='text/css'>p { color: red }</style>done"),
    ]
    df = _docs(spark, rows)
    got = {r.doc_id: (r.clean_text, r.n_tags) for r in strip_markup(df).collect()}
    assert got[1][0] == "keep"
    assert got[2][0] == "one two"
    assert got[3][0] == "a &lt; b c 'd'"
    assert got[4][0] == "bold tail"
    # *'< 5 and x >' parses as one tag under the crawl-grade regex —
    # the documented degradation, identical on both engines
    assert got[5] == ("3 1", 1)
    assert got[6] == ("", 0)
    assert got[7][0] == "done"

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(sql_strip_markup("docs")).fetchall()
    }
    assert oracle == got


def test_remove_duplicate_spans_rewrite_semantics(spark):
    """The globally-first occurrence (smallest (doc_id, pos)) of a
    duplicated window survives; every later occurrence — in another
    doc OR a self-repeat — loses its token range; overlapping removed
    ranges union; short docs and unique docs pass through verbatim."""
    from webhookdb_spark.operators.dedup import remove_duplicate_spans

    shared = "a b c d e f g h"
    rows = [
        (1, shared + " tail1 x1 y1 z1 w1 v1 u1 t1"),
        (2, shared + " tail2 x2 y2 z2 w2 v2 u2 t2"),
        (3, "q r s t u v w x y z aa bb cc dd ee ff"),
        (4, shared + " " + shared),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicate_spans(df, k=8).collect()}
    assert len(out) == 5
    # doc 1 holds the first occurrence: untouched
    assert out[1].n_removed == 0
    assert out[1].clean_text.startswith(shared)
    # doc 2's copy of the shared window is removed (its 8 leading
    # tokens), the unique tail survives
    assert out[2].n_removed == 8
    assert out[2].clean_text == "tail2 x2 y2 z2 w2 v2 u2 t2"
    # unique doc: verbatim
    assert out[3].n_removed == 0 and out[3].clean_text == rows[2][1]
    # doc 4 = shared twice: windows 1..8 are all non-first occurrences
    # (window 0 collides with doc 1's, windows 1-8 with its own), so
    # every position is covered and the doc empties entirely
    assert out[4].n_kept == 0 and out[4].clean_text == ""
    assert out[4].n_removed == out[4].n_tokens == 16
    # short doc: no windows, verbatim
    assert out[5].n_removed == 0 and out[5].clean_text == "too short"
    for r in out.values():
        assert r.n_tokens == r.n_kept + r.n_removed


def test_bpe_train_distributed_reproduces_pinned_table(spark):
    """The distributed trainer must learn EXACTLY the merge table the
    driver-side twin (tools/train_bpe.py) produced over the same
    fixture corpus — the first 10 rows of the committed BPE_MERGES,
    in rank order, symbols chr(65+k)."""
    from webhookdb_spark.operators.text import BPE_MERGES, bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = bpe_train(docs, n_merges=10).orderBy("merge_rank").collect()
    assert [(r.pair, r.merged_symbol) for r in got] == list(BPE_MERGES[:10])
    assert all(r.pair_count >= 1 for r in got)
    # counts are corpus-weighted and the argmax is strictly the max:
    # rank-0 pair must beat rank-1's count at the time it was chosen —
    # not directly comparable after rewrites, so just pin positivity
    # and determinism across a re-run
    again = bpe_train(docs, n_merges=3).orderBy("merge_rank").collect()
    assert [(r.pair, r.merged_symbol, r.pair_count) for r in again] == [
        (r.pair, r.merged_symbol, r.pair_count) for r in got[:3]
    ]


def test_embed_decontaminate_semantics_and_plan(spark):
    """Embedding-space decontamination: a scaled copy of an eval
    vector (cosine 1.0, not byte-identical) is caught, a mild
    perturbation below threshold is not, each train vector reports its
    single best eval match (ties -> lowest eval id), and the plan is
    the broadcast map-side nested loop (no shuffle before the
    threshold filter)."""
    from pyspark.sql import functions as F

    from webhookdb_spark.operators.similarity import embed_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0]), (14, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),     # scaled copy of eval 0 AND 14 -> tie,
                                      # best match must be eval 0 (lowest id)
            (2, [0.0, 0.0, 1.0]),     # orthogonal to all -> clean
            (3, [1.0, 1.0, 0.0]),     # cos ~0.707 to eval 0/7/14 -> clean at 0.9
            (4, [0.1, 3.0, 0.0]),     # near eval 7 (cos ~0.9994) -> caught
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.train_id: (r.eval_id, r.cosine_sim)
        for r in embed_decontaminate(train, ev, threshold=0.9).collect()
    }
    assert set(got) == {1, 4}
    assert got[1] == (0, 1.0)          # tie broken to lowest eval id
    assert got[4][0] == 7 and got[4][1] >= 0.999

    plan = embed_decontaminate(train, ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_embed_decontaminate_ragged_dims_agree_across_engines(spark):
    """Code-review r13: a train/eval pair with mismatched vector
    lengths must be DROPPED identically by both twins — the Spark
    zip_with+aggregate fold NULL-propagates the padded slot, and the
    SQL twin NULLs the cosine on len mismatch (without the guard,
    DuckDB's list_sum would skip the NULL terms and score a partial
    cosine that can cross the threshold)."""
    import duckdb

    from webhookdb_spark.operators.similarity import (
        embed_decontaminate,
        sql_embed_decontaminate,
    )

    # train 1 is a 2-dim prefix-copy of 3-dim eval 0: a partial cosine
    # would be 1.0 (contaminated); the pair must instead be dropped.
    ev_rows = [(0, [1.0, 0.0, 0.0])]
    tr_rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0, 0.0])]
    ev = spark.createDataFrame(ev_rows, "vec_id long, embedding array<double>")
    tr = spark.createDataFrame(tr_rows, "vec_id long, embedding array<double>")
    got = {(r.train_id, r.eval_id)
           for r in embed_decontaminate(tr, ev, threshold=0.9).collect()}
    assert got == {(2, 0)}

    con = duckdb.connect()
    con.execute("CREATE TABLE tr (vec_id BIGINT, embedding DOUBLE[])")
    con.execute("CREATE TABLE ev (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO tr VALUES (?, ?)", tr_rows)
    con.executemany("INSERT INTO ev VALUES (?, ?)", ev_rows)
    sql = sql_embed_decontaminate(
        "SELECT * FROM tr", "SELECT * FROM ev", threshold=0.9)
    oracle = {(r[0], r[1]) for r in con.execute(sql).fetchall()}
    assert oracle == got

    # The IVF pair must drop ragged pairs identically too (code-review
    # r13: the guard was initially added only to the brute twin). Here
    # the EVAL side is ragged (train must be fixed-dim for Lloyd): a
    # 2-dim eval prefix of a 3-dim train vector would score an
    # unguarded partial cosine of exactly 1.0 in DuckDB (the dot
    # ranges over the SHORTER eval, all indexes in bounds) while the
    # Spark fold NULL-drops it.
    from webhookdb_spark.operators.similarity import (
        embed_decontaminate_ivf,
        sql_embed_decontaminate_ivf,
    )

    tr2_rows = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 2.0, 0.0])]
    ev2_rows = [(0, [1.0, 0.0]), (7, [0.0, 1.0, 0.0])]
    tr2 = spark.createDataFrame(
        tr2_rows, "vec_id long, embedding array<double>")
    ev2 = spark.createDataFrame(
        ev2_rows, "vec_id long, embedding array<double>")
    got_ivf = {(r.train_id, r.eval_id)
               for r in embed_decontaminate_ivf(
                   tr2, ev2, threshold=0.9, n_centroids=1, nprobe=1
               ).collect()}
    con.execute("CREATE TABLE tr2 (vec_id BIGINT, embedding DOUBLE[])")
    con.execute("CREATE TABLE ev2 (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO tr2 VALUES (?, ?)", tr2_rows)
    con.executemany("INSERT INTO ev2 VALUES (?, ?)", ev2_rows)
    sql_ivf = sql_embed_decontaminate_ivf(
        "SELECT * FROM tr2", "SELECT * FROM ev2", threshold=0.9,
        n_centroids=1, nprobe=1)
    oracle_ivf = {(r[0], r[1]) for r in con.execute(sql_ivf).fetchall()}
    # (1, 0) is the ragged pair an unguarded oracle would emit at 1.0
    assert got_ivf == oracle_ivf == {(2, 7)}


def _decon_fixture(spark):
    """The planted-leakage train/eval pair (driver fixture convention):
    eval = vec_id % 7 == 0; every third eval re-enters train under
    vec_id + 10^7 scaled by 2 — cosine-invariant, not byte-identical."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ev = emb.where("vec_id % 7 = 0").select("vec_id", "embedding")
    planted = ev.where("vec_id % 3 = 0").select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0
                    ).alias("embedding"),
    )
    train = (
        emb.where("vec_id % 7 != 0")
        .select("vec_id",
                F.transform("embedding",
                            lambda x: x.cast("double")).alias("embedding"))
        .unionByName(planted)
    )
    return train, ev


def test_embed_decontaminate_ivf_agrees_with_brute_on_planted(spark):
    """The IVF-celled candidate path must (a) recover EVERY planted
    scaled-copy leak — a scaled copy is cosine-identical to its eval
    source so both share the argmax cell and nprobe>=1 covers it —
    and (b) agree with the brute nested loop row-for-row on this
    fixture (both deterministic, so equality is pinnable)."""
    from webhookdb_spark.operators.similarity import (
        embed_decontaminate,
        embed_decontaminate_ivf,
    )

    train, ev = _decon_fixture(spark)
    brute = {
        r.train_id: (r.eval_id, r.cosine_sim)
        for r in embed_decontaminate(train, ev, threshold=0.9).collect()
    }
    ivf = {
        r.train_id: (r.eval_id, r.cosine_sim)
        for r in embed_decontaminate_ivf(
            train, ev, threshold=0.9, n_centroids=8, nprobe=2
        ).collect()
    }
    planted_ids = {r.vec_id + 10_000_000
                   for r in ev.where("vec_id % 3 = 0").collect()}
    assert planted_ids  # fixture sanity
    for pid in planted_ids:
        assert pid in ivf, f"planted leak {pid} missed by IVF path"
        eval_id, cos = ivf[pid]
        assert cos == 1.0 and eval_id == pid - 10_000_000
    assert ivf == brute


def test_decontaminate_ivf_index_matches_inline_and_prunes_cells(spark, tmp_path):
    """write_ivf_index + decontaminate_ivf_index equal the inline
    embed_decontaminate_ivf (same knobs — the sidecar centroids are
    the trained quantizer) and the index scan carries literal cent_id
    partition predicates, so at 100 TB the decontamination reads only
    the probed cells' directories."""
    from webhookdb_spark.operators.similarity import (
        decontaminate_ivf_index,
        embed_decontaminate_ivf,
        write_ivf_index,
    )

    train, ev = _decon_fixture(spark)
    inline = {
        r.train_id: (r.eval_id, r.cosine_sim)
        for r in embed_decontaminate_ivf(
            train, ev, threshold=0.9, n_centroids=8, nprobe=2
        ).collect()
    }
    p = str(tmp_path / "decon_ivf_idx")
    write_ivf_index(train, p, n_centroids=8, n_refine=1)
    got_df = decontaminate_ivf_index(spark, p, ev, threshold=0.9, nprobe=2)
    got = {
        r.train_id: (r.eval_id, r.cosine_sim) for r in got_df.collect()
    }
    assert got == inline

    plan = got_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cent_id" in pf[0], plan
