"""Physical-plan quality gates (SURVEY §4).

The reference delegates plan quality to Postgres; here Catalyst owns it,
and these tests pin the properties that matter at 100 TB: filters reach
the parquet scan (row-group pruning), scans read only referenced columns,
small sides broadcast, bucket-pruned table reads open only the routed
bucket's files, and no row-at-a-time Python sits in relational hot paths.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_ts_range_filter_pushes_to_scan(spark):
    """The incremental-export window (sync_target.rb:428-447) must prune
    at the scan: the derived µs timestamp can't push, so ts_filter adds
    the equivalent raw-int64 range."""
    p = plan_of(entry.queries()["incremental_sync_window"](spark, SF))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", p))
    assert "GreaterThan(ts" in pushed and "LessThanOrEqual(ts" in pushed, pushed


def test_retention_sweep_pushes_both_predicates(spark):
    p = plan_of(entry.queries()["retention_candidates"](spark, SF))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", p))
    assert "LessThan(ts" in pushed, pushed
    assert "EqualTo(event_type,error)" in pushed, pushed


def test_pricing_summary_prunes_columns(spark):
    """A 6-column aggregate over a 16-column table must not scan the
    other 10 (ReadSchema check)."""
    p = plan_of(entry.queries()["pricing_summary"](spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas, p
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, cols


def test_semi_join_broadcasts_small_side(spark):
    p = plan_of(entry.queries()["semi_customers_with_open_orders"](spark, SF))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p[:2000]


def test_ann_probe_join_broadcasts(spark):
    """The IVF probe join ships (query, cell) pairs to the corpus —
    broadcast by construction, never a corpus shuffle."""
    p = plan_of(entry.queries()["ann_ivf_topk"](spark, SF))
    assert "BroadcastHashJoin" in p, p[:2000]


# Queries allowed to contain Python evaluation nodes: the multimodal
# decode path is explicitly a (stubbed) Pandas-UDF pipeline.
_PYTHON_OK = {"media_features", "media_summary"}


@pytest.mark.parametrize(
    "name", [n for n in entry.queries() if n not in _PYTHON_OK]
)
def test_no_row_python_in_hot_path(spark, name):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned everywhere;
    relational/text/dedup paths must stay fully JVM-side."""
    df = entry.queries()[name](spark, SF)
    p = plan_of(df)
    assert "BatchEvalPython" not in p, f"{name} has a row-at-a-time Python UDF"


def test_bucket_pruned_read_opens_only_routed_files(spark, tmp_path):
    """Key-routed reads (partitionable_mixin.rb:49-54) are path-pruned:
    the scan's file list is exactly the routed bucket's files."""
    import pyspark.sql.functions as F

    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    t = Warehouse(spark, tmp_path / "wh").table("org", "fake_v1")
    env = spark.createDataFrame(
        [(f'{{"my_id": "id{i}", "at": "2024-06-01T00:00:00Z"}}',) for i in range(40)],
        "body string",
    ).withColumn("received_at", F.lit("2024-06-01 00:00:00").cast("timestamp"))
    upsert_envelopes(t, env, FAKE_V1)
    routed = t.read_for_key("id7")
    files = routed.inputFiles()
    assert files, "routed read lists no files"
    from webhookdb_spark.functions.converters import str2inthash_py

    b = str2inthash_py("id7") % t.manifest.n_buckets
    assert all(f"/buckets/{b}/" in f for f in files), files
    assert routed.count() == 1


def test_signature_stages_are_shuffle_free(spark):
    """MinHash and SimHash fingerprints are row-local narrow maps: at
    100 TB they must scale linearly with input bytes, so their plans may
    not contain a single Exchange (the LSH band join later shuffles —
    the signature computation itself never does)."""
    from webhookdb_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for fn in (D.minhash_signatures, D.simhash):
        p = plan_of(fn(docs))
        # scale_out's RoundRobin repartition is allowed (it only spreads
        # the single-row-group bench file across cores; with many input
        # files it's moot) — what must never appear is a KEYED shuffle.
        assert "hashpartitioning" not in p and "rangepartitioning" not in p, (
            f"{fn.__name__} plan key-shuffles:\n{p}"
        )


def test_text_analysis_is_shuffle_free(spark):
    """Language-ID / quality / token-count / fingerprint are per-row
    expressions; any Exchange in their plans is a scale bug."""
    for name in ("text_token_count", "text_quality", "text_langid",
                 "text_fingerprint"):
        p = plan_of(entry.queries()[name](spark, SF))
        # same RoundRobin allowance as the signature gate above
        assert "hashpartitioning" not in p and "rangepartitioning" not in p, (
            f"{name} plan key-shuffles:\n{p}"
        )


def test_merge_plan_reuses_dedupe_partitioning(spark, tmp_path):
    """The upsert MERGE must shuffle exactly twice: once for the
    map-side-combined dedupe aggregation on the batch, once to co-locate
    the target side of the key join. The dedupe's hash partitioning on
    the key is REUSED by the join — a third keyed exchange means the
    plan regressed (e.g. dedup switched to a window, or the join key
    diverged from the agg key)."""
    import datetime as dt
    import json

    import pyspark.sql.functions as F

    from webhookdb_spark.operators.upsert import build_merge, upsert_envelopes
    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    t = Warehouse(spark, tmp_path / "wh").table("org", "fake_v1")
    env = spark.createDataFrame(
        [
            (json.dumps({"my_id": f"id{i}", "at": "2024-06-01T00:00:00Z"}),
             dt.datetime(2026, 1, 1))
            for i in range(40)
        ],
        "body string, received_at timestamp",
    )
    upsert_envelopes(t, env, FAKE_V1)
    shaped = FAKE_V1.shape(env.withColumn("_seq", F.monotonically_increasing_id()))
    p = plan_of(build_merge(t, shaped, FAKE_V1, affected=list(range(8))))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    assert "hashpartitioning" in p and "rangepartitioning" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_replicator_shaping_is_one_narrow_projection(spark):
    """Spec extraction compiles to a single whole-stage-codegen
    projection over the envelope scan — no shuffle, no Python in the
    relational path (enrichment-free specs)."""
    import datetime as dt
    import json

    from webhookdb_spark.replicators.stripe import STRIPE_CUSTOMER_V1

    env = spark.createDataFrame(
        [(json.dumps({"id": "c", "created": 1}), dt.datetime(2026, 1, 1))],
        "body string, received_at timestamp",
    )
    p = plan_of(STRIPE_CUSTOMER_V1.shape(env))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_corpus_assembly_is_shuffle_free(spark):
    """Split assignment, weighted mixture, and repetition stats are
    per-row salted-hash/array expressions — map-side only at any scale;
    a keyed Exchange in any of them is a scale bug."""
    for name in ("corpus_split", "weighted_mix", "text_repetition",
                 "text_token_count_bpe", "text_token_count_bpe2",
                 "text_scrub_pii", "text_winnow"):
        p = plan_of(entry.queries()[name](spark, SF))
        assert "hashpartitioning" not in p and "rangepartitioning" not in p, (
            f"{name} plan key-shuffles:\n{p}"
        )
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_media_fixture_assembly_is_native(spark):
    """The BMP/WAV payload assembly (hex build + unhex) must be pure
    Column expressions — the ONLY Python stage in the decode queries is
    the decode kernel itself (exactly one MapInPandas)."""
    from webhookdb_spark.operators import multimodal as M

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for builder in (M.media_bmp_from_documents, M.media_wav_from_documents):
        p = plan_of(builder(docs))
        assert "Python" not in p and "Pandas" not in p, (
            f"{builder.__name__} fixture assembly left JVM:\n{p}"
        )
        assert "Exchange" not in p, p
    for q in ("media_decode", "media_wav_decode", "media_avi_frames"):
        p = plan_of(entry.queries()[q](spark, SF))
        assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p


def test_corpus_ops_prune_document_columns(spark):
    """The documents scans under the corpus/text/media operators must
    read only the referenced columns (ReadSchema pruning) — reading
    `text` for a split assignment would 30x the scan bytes at 100 TB."""
    expected = {
        "corpus_split": {"doc_id", "lang", "source"},
        "weighted_mix": {"doc_id", "lang", "source"},
        "text_winnow": {"doc_id", "text"},
        "text_scrub_pii": {"doc_id", "text"},
        "media_decode": {"doc_id", "text"},
    }
    for name, want in expected.items():
        p = plan_of(entry.queries()[name](spark, SF))
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
        cols = {c.split(":")[0] for s in schemas for c in s.split(",") if c}
        assert cols == want, (name, cols)


def test_pq_adc_scan_reads_only_codes(spark, tmp_path):
    """The encode-once/query-many PQ path: once codes are persisted,
    the ADC ranking scan must read ONLY (vec_id, codes) — m bytes a
    vector, never the 64-float embedding column — and shuffle only for
    the per-query top-k window. This is the property that makes PQ the
    100 TB ANN story."""
    import webhookdb_spark.operators.similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = S.pq_codebooks(emb, m=8, ksub=8, n_refine=1)
    codes_path = str(tmp_path / "pq_codes")
    S.pq_encode(emb, cbs).write.parquet(codes_path)
    codes = spark.read.parquet(codes_path)
    queries = emb.where(F.col("vec_id") < 3)

    p = plan_of(S.adc_topk(codes, cbs, queries, k=5))
    scans = re.findall(r"ReadSchema: (\S+)", p)
    codes_scan = [s for s in scans if "codes" in s]
    assert codes_scan, p
    assert all("embedding" not in s for s in codes_scan), codes_scan
    # one Exchange for the top-k window, one for the tiny broadcast side
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_sequence_pack_has_no_single_partition_window(spark):
    """The global prefix sum must run as parallel per-bucket windows +
    a metadata-sized offset join — if the plan contains a
    SinglePartition exchange feeding a Window, the operator would
    serialize the whole corpus through one task at 100 TB. (The tiny
    256-row bucket-offset window is computed on the aggregate side and
    is the one permitted SinglePartition; assert it windows only the
    post-aggregate stream.)"""
    p = plan_of(entry.queries()["sequence_pack"](spark, SF))
    # the doc-level window must be hash-partitioned by bucket
    assert "hashpartitioning(_bucket" in p, p
    # exactly one SinglePartition exchange is permitted: the 256-row
    # bucket-totals window. It must carry only aggregate output
    # (sum of n_tokens), never document text.
    singles = re.findall(r"Exchange SinglePartition[^\n]*", p)
    assert len(singles) <= 1, p
    assert all("text" not in s for s in singles), singles
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_corpus_shuffle_is_distributed_sort(spark):
    """Deterministic training-order shuffle must compile to a range-
    partitioned distributed sort, never a global window/rank."""
    from webhookdb_spark.operators.sampling import corpus_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(corpus_shuffle(docs))
    assert "rangepartitioning" in p, p
    assert "SinglePartition" not in p, p


def test_corpus_filter_is_shuffle_free(spark):
    """Every filter rule is a literal predicate — the cascade must be
    one narrow map (no Exchange besides scale_out's round-robin, no
    Python)."""
    p = plan_of(entry.queries()["corpus_filter"](spark, SF))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_pq_encode_is_shuffle_free(spark):
    """Compressing the corpus to codes is a per-row expression — a
    keyed Exchange here would shuffle 100 TB for nothing."""
    import webhookdb_spark.operators.similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = S.pq_codebooks(emb, m=8, ksub=8, n_refine=1)
    p = plan_of(S.pq_encode(emb, cbs))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_kmv_uses_window_group_limit(spark):
    """The per-group k-minima selection must compile to
    WindowGroupLimit (map-side local prune before the shuffle) — the
    property that lets the sketch union at cluster scale."""
    p = plan_of(entry.queries()["kmv_distinct"](spark, SF))
    assert "WindowGroupLimit" in p, p


def test_cap_per_group_uses_window_group_limit(spark):
    """The per-group quality cap must compile to WindowGroupLimit so
    each task prunes to its local top-n per group before the single
    group-keyed shuffle — the property that keeps a per-domain cap
    linear at corpus scale."""
    p = plan_of(entry.queries()["corpus_cap_quality"](spark, SF))
    assert "WindowGroupLimit" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_ivfpq_joins_broadcast_never_cartesian(spark):
    """The IVF-PQ composition must route every join through a
    broadcast: the probe join and the code lookup are
    BroadcastHashJoins, the only nested-loop joins are the two
    tiny-centroid crossJoins (C rows broadcast), and no CartesianProduct
    or Python node may appear."""
    p = plan_of(entry.queries()["ann_ivfpq_topk"](spark, SF))
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    assert p.count("BroadcastNestedLoopJoin") <= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_shipping_priority_top10_never_global_sorts(spark):
    """The Q3-shape limit must compile to TakeOrderedAndProject (local
    per-task top-10 + merge) — a global Sort before a limit of 10 is a
    full-corpus sort for 10 rows."""
    p = plan_of(entry.queries()["shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in p, p
    assert "rangepartitioning" not in p, p


def test_search_ranked_topk_never_global_sorts(spark):
    """Ranked retrieval's top-k must be TakeOrderedAndProject — a
    stop-word query matches most of the corpus and a global sort there
    is the retrieval scale bug."""
    p = plan_of(entry.queries()["search_ranked"](spark, SF))
    assert "TakeOrderedAndProject" in p, p
    assert "rangepartitioning" not in p, p


def test_bucketed_index_window_is_sharded_never_per_token(spark):
    """The posting-store chunking window must partition on
    (token, shard): partitioned on token alone, a stop-word token
    serializes through one task; global, the whole corpus does."""
    p = plan_of(entry.queries()["inverted_index_bucketed"](spark, SF))
    assert re.search(r"hashpartitioning\(token[^)]*shard", p), p
    assert "Exchange SinglePartition" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_min_cost_supplier_decorrelates_to_one_lineitem_scan(spark):
    """Q2's correlated scalar-MIN subquery must decorrelate: the plan
    reads lineitem ONCE (per-part min is a window over the shared
    offers aggregate, not a second aggregate over a re-scanned join)
    and every dimension joins as a broadcast."""
    p = plan_of(entry.queries()["min_cost_supplier"](spark, SF))
    # the FACT table is scanned once; the tiny supplier/nation/region
    # broadcast subtree legitimately appears in both of its join sites
    assert p.count("lineitem.parquet") == 1, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_excess_shippers_nested_in_is_semi_joins(spark):
    """Q20's nested IN-with-aggregate must plan as semi-joins over one
    lineitem scan — no correlated re-evaluation per supplier."""
    p = plan_of(entry.queries()["excess_shippers"](spark, SF))
    assert len(re.findall(r"\+\- Scan parquet", p)) == 3, p
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p


@pytest.mark.parametrize("name", [
    "local_supplier_volume", "nation_trade_volume", "market_share",
    "product_profit", "returned_item_losses", "parts_supplier_count",
    "discounted_brand_revenue",
])
def test_tpch_join_shapes_scan_fact_once_and_broadcast_dims(spark, name):
    """The round-6 TPC-H join family: one lineitem scan, dimensions
    broadcast, no cartesian products, no Python in the path."""
    p = plan_of(entry.queries()[name](spark, SF))
    assert p.count("lineitem.parquet") == 1, (name, p)
    assert "BroadcastHashJoin" in p, (name, p)
    assert "CartesianProduct" not in p, (name, p)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6 is the pushdown benchmark: the shipdate bounds must reach the
    parquet scan as PushedFilters and the scan must read only the four
    referenced columns."""
    p = plan_of(entry.queries()["forecast_revenue"](spark, SF))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:300], p
    rs = p.split("ReadSchema")[1][:200]
    for c in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert c in rs, (c, rs)
    assert "l_orderkey" not in rs, rs


def test_multi_key_routed_read_opens_only_owning_buckets(spark, tmp_path):
    """read_for_keys prunes to the union of the keys' buckets by path
    selection, pushes the isin residually, and returns exactly the
    requested rows; an empty key list reads nothing."""
    import pyspark.sql.functions as F

    from webhookdb_spark.functions.converters import str2inthash_py
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    t = Warehouse(spark, tmp_path / "wh").table("org", "fake_v1")
    env = spark.createDataFrame(
        [(f'{{"my_id": "id{i}", "at": "2024-06-01T00:00:00Z"}}',) for i in range(40)],
        "body string",
    ).withColumn("received_at", F.lit("2024-06-01 00:00:00").cast("timestamp"))
    upsert_envelopes(t, env, FAKE_V1)
    keys = ["id3", "id17", "id28"]
    routed = t.read_for_keys(keys)
    owned = {str2inthash_py(k) % t.manifest.n_buckets for k in keys}
    opened = {
        int(f.split("/buckets/")[1].split("/")[0]) for f in routed.inputFiles()
    }
    assert opened == owned, (opened, owned)
    assert {r.my_id for r in routed.collect()} == set(keys)
    assert t.read_for_keys([]).count() == 0


def test_table_digest_is_one_narrow_aggregation(spark):
    """The anti-entropy digest must cost one map + one map-side
    combined SUM onto the bucket keys: exactly one keyed exchange
    (carrying only (bucket, count, sum) partials), no Python, no
    wide rows moving."""
    p = plan_of(entry.queries()["orders_digest"](spark, SF))
    keyed = re.findall(r"hashpartitioning\(bucket[^\n]*", p)
    assert len(keyed) == 1, p
    # the only other exchange is the range partition ordering the
    # 32-row digest result — post-aggregate, metadata-sized
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_funnel_joins_are_keyed_never_cartesian(spark):
    """Every funnel stage joins on user_id — equi-joins only. A
    BroadcastNestedLoopJoin/CartesianProduct here would pair the whole
    event stream against itself at 100 TB."""
    p = plan_of(entry.queries()["funnel_conversion"](spark, SF))
    assert "CartesianProduct" not in p, p
    # the only permissible nested-loop joins are against 1-row
    # aggregates (there are none in the funnel plan)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "EvalPython" not in p, p


def test_correlations_single_scan_single_aggregate(spark):
    """All 36 moment sums ride ONE scan and ONE two-phase aggregate:
    exactly one exchange (the partial->final merge of a 1-row
    aggregate), one parquet scan, and the scan reads only the 4
    numeric columns."""
    p = plan_of(entry.queries()["lineitem_correlations"](spark, SF))
    # one scan of lineitem feeding every pair (count the detail
    # entries — the tree line would double-count)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for s in schemas for c in s.split(",") if c}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}, cols
    # scale_out's RoundRobin repartition is allowed (same allowance as
    # the signature gate: it only spreads the single-row-group bench
    # file across cores); beyond it, exactly ONE exchange — the
    # partial->final merge of the 1-row aggregate, keyed on nothing.
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    n_roundrobin = len(re.findall(r"RoundRobinPartitioning", p))
    assert n_exchanges - n_roundrobin == 1, p
    assert "SinglePartition" in p, p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p


def test_histogram_min_max_broadcasts_onto_scan(spark):
    """The 1-row min/max aggregate must BROADCAST onto the binning
    scan (a shuffle join keyed on nothing would move the fact table);
    the binned aggregate lands on at most n_bins keys."""
    p = plan_of(entry.queries()["price_histogram"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_scd2_reuses_one_key_exchange_across_windows(spark):
    """Both SCD2 windows (change-detect LAG, interval LEAD/version)
    partition on the key, so the build must shuffle ONCE on user_id —
    the second window reuses the first's exchange — and never falls to
    a single partition."""
    p = plan_of(entry.queries()["scd2_user_state"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert re.search(r"hashpartitioning\(user_id", p), p
    assert "Exchange SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p


def test_gapfill_spine_join_is_keyed_never_cartesian(spark):
    """The calendar spine joins back on (user_id, day_num) — a keyed
    equi-join, never a cartesian against a global calendar — and the
    forward-fill window partitions per user."""
    p = plan_of(entry.queries()["gapfill_user_daily"](spark, SF))
    assert "CartesianProduct" not in p, p
    assert "Exchange SinglePartition" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_rolling_range_frame_no_single_partition(spark):
    """The trailing-window RANGE frame runs per user — a global-order
    window would serialize the table through one task."""
    p = plan_of(entry.queries()["rolling_user_weekly"](spark, SF))
    assert "Exchange SinglePartition" not in p, p
    assert re.search(r"specifiedwindowframe\(RangeFrame", p,
                     re.IGNORECASE) or "RANGE BETWEEN" in p, p


def test_prefix_jaccard_joins_are_keyed_never_cartesian(spark):
    """Candidate generation must be the prefix-token hash join, the
    verification a pair-keyed join — nothing quadratic, no python
    eval in the path, no single-partition window (doc-keyed ranks
    only)."""
    p = plan_of(entry.queries()["jaccard_prefix_pairs"](spark, SF))
    assert "CartesianProduct" not in p, p
    assert "Exchange SinglePartition" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_bucketed_colocated_join_has_no_exchange(spark, tmp_path):
    """Storage-level co-location: two tables written bucketBy(8, key)
    + sortBy(key) must SortMergeJoin with ZERO Exchange in the
    executed plan (broadcast disabled so the property is actually
    exercised), and a groupBy on the bucket key must aggregate without
    an exchange — the layout that lets a repeated 100 TB join run
    without moving either side. Mismatched bucket counts lose the
    optimization (exchange reappears) but stay correct."""
    from webhookdb_spark.operators.layout import (
        colocated_join,
        write_bucketed,
    )

    a = spark.range(10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(10_000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bk_a", "k", 8, ("k",), path=str(tmp_path / "a"))
    write_bucketed(b, "bk_b", "k", 8, ("k",), path=str(tmp_path / "b"))
    write_bucketed(b, "bk_c", "k", 4, ("k",), path=str(tmp_path / "c"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "bk_a", "bk_b", "k")
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        assert j.count() == 10_000

        agg = spark.table("bk_a").groupBy("k").count()
        pa = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in pa, pa

        # mismatched bucket counts: still correct, exchange is back
        jm = colocated_join(spark, "bk_a", "bk_c", "k")
        assert jm.count() == 10_000
        assert (
            "Exchange"
            in jm._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("bk_a", "bk_b", "bk_c"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dsir_gram_aggregate_materialized_once(spark):
    """dsir_importance consumes its (doc_id, bucket) count table from
    three places (bucket stats, the totals row, the per-doc join); at
    100 TB the gram explode must run ONCE, not once per consumer.
    r15: AQE stage reuse only collapsed part of that fan-out (the
    profile still showed twin gram jobs, and pinning won its
    interleaved A/B ~1.5x), so the count table now carries one eager
    localCheckpoint at operator build. Pin the stronger invariant: the
    final plan reads the pinned RDD everywhere and contains NO corpus
    scan at all — a reappearing parquet scan means a consumer escaped
    the pin and the gram explode is being re-executed."""
    df = entry.queries()["dsir_importance"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_span_novelty_single_scan_two_shuffles(spark):
    """span_novelty is one corpus scan, one shuffle on the window hash
    (the occurrence window), one re-aggregate on doc_id — and the scan
    reads only (doc_id, text). A second scan or a join would mean the
    occurrence count regressed to a self-join."""
    p = plan_of(entry.queries()["span_novelty"](spark, SF))
    # formatted explain lists each node twice (tree + detail); count details
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"SortMergeJoin|BroadcastHashJoin", p)) == 0
    schema = " ".join(re.findall(r"ReadSchema: [^\n]*", p))
    assert "text" in schema and "lang" not in schema and "source" not in schema


def test_span_dedup_rewrite_two_scans_hash_exchange_no_cartesian(spark):
    """remove_duplicate_spans: exactly TWO column-pruned corpus scans
    (the windows pass and the rewrite pass — the token stream itself
    is never re-shuffled or re-aggregated), the only corpus-sized
    exchange keys the 32-byte window hash, the cover-set re-attach is
    a keyed equi-join, and both scans read only (doc_id, text)."""
    p = plan_of(entry.queries()["span_dedup_rewrite"](spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert re.search(r"hashpartitioning\(h#", p), p
    schema = " ".join(re.findall(r"ReadSchema: [^\n]*", p))
    assert "text" in schema and "lang" not in schema and "source" not in schema


def test_bpe_train_word_table_single_corpus_scan(spark):
    """The BPE trainer's vocabulary build — the ONLY corpus-sized
    stage — is one column-pruned scan into a partial-agg word count;
    every merge round after it reads the checkpointed vocab, not the
    corpus (the plan of the round-1 pair aggregate must contain NO
    parquet scan)."""
    from pyspark.sql import functions as F
    from webhookdb_spark.operators.text import ascii_lower

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    words = (
        docs.select(F.explode(F.split(ascii_lower(F.col("text")), "[^a-z]+")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = plan_of(words)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "partial_count" in p or "HashAggregate" in p
    schema = " ".join(re.findall(r"ReadSchema: [^\n]*", p))
    assert "text" in schema and "doc_id" not in schema
    ck = words.localCheckpoint()
    pairs = (
        ck.where(F.length("w") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
        )).alias("pair"), "cnt")
        .groupBy("pair").agg(F.sum("cnt").alias("n"))
    )
    assert "Scan parquet" not in plan_of(pairs)


def test_retention_delete_prunes_buckets_via_zone_maps(spark, tmp_path):
    """The stale-row delete (retention.py delete_stale_rows) must use
    manifest zone maps: buckets whose [min, max] for the tracked ts
    column cannot intersect the half-open delete window are neither
    read nor rewritten (their manifest version dirs stay byte-
    identical), while overlapping buckets are NEVER skipped and the
    surviving rows equal the full-scan semantics exactly — including
    NULL-ts rows, which a SQL DELETE never removes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from webhookdb_spark.functions.converters import str2inthash_py
    from webhookdb_spark.operators.retention import delete_stale_rows
    from webhookdb_spark.storage import ManagedTable

    t = ManagedTable(spark, tmp_path / "org" / "ret_zm")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("at", T.StringType()),
        T.StructField("status", T.StringType()),
    ])
    t.create(schema, key="k", n_buckets=8, zonemap_cols=("at",))
    # per-bucket day bands: bucket b holds 2024-01-(b+1) timestamps —
    # deterministic correlation between the hash bucket and the ts
    rows = []
    for i in range(160):
        b = str2inthash_py(f"k{i}") % 8
        rows.append((f"k{i}", f"2024-01-{b + 1:02d} 12:00:00", "CANCELLED"))
    rows.append(("knull", None, "CANCELLED"))  # NULL ts must survive
    t.overwrite_all(spark.createDataFrame(rows, schema))

    m0 = t.manifest
    # delete window [2024-01-02, 2024-01-04): buckets holding day 2
    # and day 3, plus knull's bucket (its stats min is the non-null
    # min — all-null only if the bucket holds nothing else)
    lo, hi = "2024-01-02 00:00:00", "2024-01-04 00:00:00"
    cands = t.zonemap_candidates("at", lo, hi, hi_inclusive=False)
    day_of = {b: int(s["at"][0][8:10]) if s["at"][0] else None
              for b, s in m0.zonemaps.items()}
    expect_cands = {int(b) for b, d in day_of.items() if d in (2, 3)}
    assert set(cands) == expect_cands and 0 < len(cands) < 8

    # conservative correctness (pre-delete): a window overlapping
    # EVERY bucket skips nothing; untracked column -> None (full scan)
    cands_all = t.zonemap_candidates(
        "at", "2024-01-01 00:00:00", "2024-01-31 00:00:00",
        hi_inclusive=False,
    )
    assert set(cands_all) == set(range(8))
    assert t.zonemap_candidates("status", "A", "Z") is None

    full = t.read().collect()
    survivors_want = sorted(
        r.k for r in full
        if r.at is None or not (lo <= r.at < hi)
    )
    n_doomed = len(full) - len(survivors_want)
    assert n_doomed > 0

    deleted = delete_stale_rows(t, "at", stale_cutoff=hi, lookback_cutoff=lo)
    assert deleted == n_doomed
    assert sorted(r.k for r in t.read().collect()) == survivors_want
    assert "knull" in survivors_want  # NULL-ts row survived

    # skipped buckets: manifest rel dirs byte-identical (never
    # rewritten); candidate buckets advanced to a new version dir
    m1 = t.manifest
    for b in map(str, range(8)):
        if int(b) in expect_cands:
            assert m1.buckets[b] != m0.buckets[b], f"bucket {b} not rewritten"
        else:
            assert m1.buckets[b] == m0.buckets[b], f"bucket {b} rewritten"

    # an emptied bucket's stats either collapse to NULL-min (skippable)
    # or drop out entirely (conservatively re-read) — never stale bands
    # that would wrongly skip live data
    m1z = m1.zonemaps or {}
    for b in map(str, sorted(expect_cands)):
        stats = (m1z.get(b) or {}).get("at")
        assert stats is None or stats[0] is None, stats


def test_token_budget_select_keyed_join_no_cartesian(spark):
    """token_budget_select composes a quality pass with a doc_id-keyed
    join back to the source column: the join must be a hash/merge
    equi-join (never BroadcastNestedLoop/Cartesian), the running sum a
    single per-source window, and the documents scan pruned to the
    referenced columns."""
    p = plan_of(entry.queries()["token_budget_select"](spark, SF))
    phys = p.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys and "BroadcastNestedLoop" not in phys, p
    # exactly ONE window node (the running sum) — a second would mean
    # the quality rank recomputed as a separate shuffled pass
    assert len(re.findall(r"\(\d+\) Window", phys)) == 1, p
    # two exchanges: the doc_id equi-join + the per-source sort; a
    # third keyed shuffle means the quality/join partitioning stopped
    # being reused
    assert len(re.findall(r"\(\d+\) Exchange", phys)) <= 2, p


def test_envelope_intake_projection_stays_jvm_side(spark, tmp_path):
    """The intake projection (header canonicalization + bot filter)
    must stay whole-stage-codegen JVM work — an envelope stream at
    100 TB/week cannot afford a Python hop per record."""
    import json as _json

    from webhookdb_spark.sources.envelopes import (
        read_envelopes,
        reject_bot_gets,
    )

    d = tmp_path / "land"
    d.mkdir()
    (d / "a.json").write_text(_json.dumps({
        "integration_opaque_id": "svi_a", "service_name": "fake_v1",
        "request_method": "POST", "request_path": "/",
        "headers": {"User-Agent": "x"}, "body": "{}",
        "received_at": "2026-01-01T00:00:00Z",
    }) + "\n")
    df = reject_bot_gets(read_envelopes(spark, str(d)))
    p = plan_of(df)
    assert "BatchEvalPython" not in p
    # higher-order map functions run as JVM expression eval (no codegen
    # span) — the gate here is "no Python hop", plus shape: one scan,
    # one filter, one projection, nothing else
    assert "Scan json" in p and "PythonUDF" not in p


def test_load_plan_cache_entry_dies_with_session():
    """The per-session read-plan cache must not accumulate stopped
    sessions' plans (r15 ADVICE): weak KEYING can never fire because
    the cached DataFrames strongly reference their session, so load()
    evicts stopped/dead sessions eagerly, and clear_plan_cache() drops
    entries on demand. Runs in a subprocess: the suite's shared
    getOrCreate session must stay up."""
    import subprocess
    import sys
    from pathlib import Path

    code = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as e
from webhookdb_spark.session import get_spark
SF = {sf!r}
s = get_spark(app_name="plan-cache-proc", cpus=2, shuffle_partitions=2)
df = e.load(s, SF, "region")
sid = id(s)
assert sid in e._LOAD_PLANS
assert e.load(s, SF, "region") is df          # reuse within a session
e.clear_plan_cache(s)                          # explicit invalidation
assert sid not in e._LOAD_PLANS
df2 = e.load(s, SF, "region")
assert df2 is not df and sid in e._LOAD_PLANS  # fresh plan after clear
s.stop()
s2 = get_spark(app_name="plan-cache-proc-2", cpus=2, shuffle_partitions=2)
e.load(s2, SF, "nation")                       # any load sweeps the dead
assert sid not in e._LOAD_PLANS or sid == id(s2), (
    "stopped session's plans survived the sweep")
s2.stop()
print("PLAN_CACHE_OK")
""".format(repo=str(Path(__file__).resolve().parent.parent), sf=SF)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=240)
    assert "PLAN_CACHE_OK" in out.stdout, out.stdout + out.stderr


def _analyzed_modulo_ids(df) -> str:
    """The analyzed plan with expression ids and pyspark's lambda
    variable numbering (``x_12`` → ``x``) erased."""
    p = df._jdf.queryExecution().analyzed().toString()
    p = re.sub(r"#\d+L?", "#", p)
    return re.sub(r"(lambda \w+?)_\d+#", r"\1#", p)


def _fake_env(spark, rows):
    import json as _json

    return spark.createDataFrame(
        [("fake_v1", _json.dumps(r), None) for r in rows],
        "opaque_id string, body string, received_at timestamp",
    )


def _memo_family_df(family, spark, tmp_path):
    """One representative DataFrame per memoized-tree family, built
    through the public operator that owns the memo key."""
    from pyspark.sql import functions as F

    from webhookdb_spark.operators import digest as DG
    from webhookdb_spark.operators import history as H
    from webhookdb_spark.operators import similarity as S
    from webhookdb_spark.operators.dedup import minhash_signatures
    from webhookdb_spark.operators.profile import expectation_reason
    from webhookdb_spark.operators.upsert import build_merge, dedupe_last_wins
    from webhookdb_spark.replicators.fake import FAKE_V1

    rows = [{"my_id": f"k{i}", "at": f"2024-01-0{i + 1}T00:00:00Z", "g": "x",
             "v": i} for i in range(3)]
    if family == "shape":
        return FAKE_V1.shape(_fake_env(spark, rows))
    if family == "dedupe_last_wins":
        return dedupe_last_wins(FAKE_V1.shape(_fake_env(spark, rows)), "my_id")
    if family == "merge_exprs":
        from webhookdb_spark.operators.upsert import upsert_envelopes
        from webhookdb_spark.storage import Warehouse

        seeded = (tmp_path / "wh").exists()
        t = Warehouse(spark, tmp_path / "wh").table("org", "fake_v1")
        if not seeded:
            upsert_envelopes(t, _fake_env(spark, rows[:2]), FAKE_V1)
        return build_merge(
            t, FAKE_V1.shape(_fake_env(spark, rows)), FAKE_V1,
            list(range(FAKE_V1.n_buckets)),
        )
    if family == "scd2_apply":
        ev = spark.createDataFrame(
            [(1, "2024-01-01", 1, "a"), (1, "2024-01-02", 2, "b")],
            "user_id long, ts string, event_id long, state string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        hist = H.scd2_history(ev, "user_id", ("state",), "ts", "event_id")
        return H.scd2_apply(hist, ev, "user_id", ("state",), "ts", "event_id")
    if family == "expectation_reason":
        df = spark.createDataFrame([(1, 5)], "i int, x int")
        return df.select(expectation_reason(
            [("not_null", "x"), ("between", "x", 0, 10), ("in_set", "x", [5])]
        ))
    if family == "digest":
        df = spark.createDataFrame([(1, "a"), (2, None)], "k long, s string")
        return DG.table_digest(df)
    if family == "minhash":
        df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
        return minhash_signatures(df, n_hashes=4)
    if family == "cos_named":
        df = spark.createDataFrame(
            [([1.0, 0.0], [0.5, 0.5])], "a array<double>, b array<double>"
        )
        return df.select(S._cos_named("a", "b"))
    raise AssertionError(family)


_MEMO_FAMILIES = {
    "shape": "shape",
    "merge_exprs": "merge_exprs",
    "dedupe_last_wins": "dedupe_last_wins",
    "scd2_apply": "scd2_apply",
    "expectation_reason": "expectation_reason",
    "matview": "ivm",
    "digest": "digest_row_hash",
    "minhash": "minhash_sigs",
    "cos_named": "cos_named",
}


@pytest.mark.parametrize("family", sorted(_MEMO_FAMILIES))
def test_memo_hit_plan_equals_fresh_build(spark, tmp_path, monkeypatch, family):
    """A memoized tree must analyze to exactly the plan a freshly built
    one does: the memo saves driver round-trips, never changes a plan."""
    from webhookdb_spark.operators import util

    if family == "matview":
        build = _matview_plan_builder(spark, tmp_path, monkeypatch)
    else:
        def build():
            return _memo_family_df(family, spark, tmp_path)

    build()  # warm the memo
    prefix = _MEMO_FAMILIES[family]
    assert any(k[0] == prefix for k in util._MEMO), f"{family} not memoized"
    hit = _analyzed_modulo_ids(build())
    util._MEMO.clear()
    fresh = _analyzed_modulo_ids(build())
    assert hit == fresh


def _matview_plan_builder(spark, tmp_path, monkeypatch):
    """The aggregate an IncrementalAggMaintainer writes, captured at its
    parquet write: a fresh maintainer per call folds the same feed."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from webhookdb_spark.operators.matview import IncrementalAggMaintainer
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    t = Warehouse(spark, tmp_path / "wh").table("org", "fake_v1")
    upsert_envelopes(t, _fake_env(spark, [
        {"my_id": "a", "at": "2024-01-01T00:00:00Z", "g": "x", "v": 1},
        {"my_id": "b", "at": "2024-01-01T00:00:00Z", "g": "y", "v": 2},
    ]), FAKE_V1)
    written = []
    write_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)

    def project(b):
        data = F.col("data").cast("string")
        return b.select(
            "my_id",
            F.get_json_object(data, "$.g").alias("g"),
            F.get_json_object(data, "$.v").cast("long").alias("v"),
        )

    def build():
        IncrementalAggMaintainer(
            spark, str(tmp_path / f"ivm{len(written)}"), "my_id", "g", "v",
            project=project,
        ).run(t)
        return written[-1]  # the aggregate (state is written first)

    return build
