"""Plan hygiene: assert the physical plans we depend on at 100 TB scale.

Correct results with the wrong plan (global sort instead of top-k heap,
shuffle join against a 5-row dim, unpruned vector column) would melt at
scale — these tests pin the plan shape, not just the values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vrod_spark.operators.knn import knn_exact
from vrod_spark.plans.inspect import explain_str
from vrod_spark.queries import QUERIES
from vrod_spark.sources.tables import load_table


def test_knn_is_take_ordered_not_global_sort(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [0.0] * 64
    plan = explain_str(knn_exact(emb, qv, k=10), "formatted")
    assert "TakeOrderedAndProject" in plan


def test_limit_offset_plans_as_topk_heap(spark, sf_dir):
    """Both q03 legs — plain top-k and LIMIT+OFFSET pagination — must plan
    as TakeOrderedAndProject (per-partition heaps of offset+limit rows),
    never a global sort (Exchange rangepartitioning)."""
    df = QUERIES["q03_top_orders"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("TakeOrderedAndProject") == 2
    assert "rangepartitioning" not in final


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = explain_str(QUERIES["q02_revenue_by_nation"](spark, sf_dir), "formatted")
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_to_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = explain_str(df, "formatted")
    assert "PushedFilters: [" in plan and "l_returnflag" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_skips_vector_column(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.groupBy("label").count()
    plan = explain_str(df, "formatted")
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "embedding" not in scan_schema


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    plan = explain_str(QUERIES["q01_pricing_summary"](spark, sf_dir), "codegen")
    assert "WholeStageCodegen" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = explain_str(QUERIES["q01_pricing_summary"](spark, sf_dir), "formatted")
    assert plan.count("HashAggregate") >= 2 and "partial_sum" in plan


def test_lang_id_tokenizes_exactly_once(spark, sf_dir):
    """The let_once binding must keep a SINGLE tokenization in the plan —
    the r1 form re-tokenized 5× (once per language table) because Catalyst
    does not CSE higher-order expressions."""
    from vrod_spark.functions.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    plan = explain_str(docs.select(lang_id("text").alias("lp")), "formatted")
    assert plan.count("split(") == 1


def test_right_outer_join_broadcasts_small_side(spark, sf_dir):
    """q42's filtered orders side is small → BuildLeft broadcast, right
    outer preserved (no shuffle of the customer side at scale beyond the
    agg)."""
    plan = explain_str(QUERIES["q42_outer_joins"](spark, sf_dir), "formatted")
    assert "BroadcastHashJoin RightOuter" in plan


def test_full_outer_join_is_sort_merge_with_partial_agg(spark, sf_dir):
    """Full outer cannot broadcast (both sides null-extend) — the correct
    scale plan is a sort-merge join fed by partially-aggregated sides."""
    plan = explain_str(QUERIES["q42_outer_joins"](spark, sf_dir), "formatted")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "partial_count" in plan


def test_decontamination_broadcasts_benchmark_set(spark, sf_dir):
    """q50's benchmark shingle set is tiny — it must broadcast; shuffling
    the corpus side against it would move every shingle at scale."""
    plan = explain_str(QUERIES["q50_decontamination"](spark, sf_dir), "formatted")
    assert "BroadcastHashJoin" in plan


def test_vocab_build_is_partial_agg_topk(spark, sf_dir):
    """q53: map-side combine (shuffle carries token partial counts, not
    token instances) and top-k without a global sort."""
    plan = explain_str(QUERIES["q53_vocab_top_tokens"](spark, sf_dir), "formatted")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_deep_join_broadcasts_all_dims(spark, sf_dir):
    """q56 (6-table Q5 shape): every dimension side must broadcast; only
    the two fact tables may meet in a shuffle join."""
    plan = explain_str(QUERIES["q56_local_supplier_volume"](spark, sf_dir), "formatted")
    assert plan.count("BroadcastHashJoin") >= 4


def test_salted_join_salts_the_join_key(spark, sf_dir):
    """q57: the physical join condition must include the salt column
    (key, _salt) — that spread is the whole point; and the replicated
    3-row dim side must broadcast, never shuffle the fact."""
    plan = explain_str(QUERIES["q57_skew_salted_join"](spark, sf_dir), "formatted")
    assert "_salt" in plan
    assert "BroadcastHashJoin" in plan


def test_pii_redaction_stays_in_codegen(spark, sf_dir):
    """q58: the redaction chain is regexp_replace expressions only — no
    Python evaluation node may appear in the plan (a UDF here would put
    every corpus byte through Arrow at scale)."""
    plan = explain_str(QUERIES["q58_pii_redaction"](spark, sf_dir), "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # One scan, redaction fused into the pre-aggregate Project — the whole
    # per-document pass is a single map stage. (Formatted explain prints
    # each scan twice: tree node + detail block.)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "regexp_extract_all" in plan


def test_quantization_stays_in_codegen(spark, sf_dir):
    """q21 (incl. int8 quantization columns): pure higher-order
    expressions, no Python boundary, scan reads only vec_id+embedding."""
    plan = explain_str(QUERIES["q21_array_funcs"](spark, sf_dir), "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters" in plan  # vec_id < 100 reaches the scan


def test_events_ts_predicate_pushes_to_scan(spark, sf_dir):
    """The schema-adaptive events loader passes the native NTZ ts column
    through untouched (micros-NTZ testdata vintage), so a time-range
    predicate reaches the parquet scan as a data filter — at 100 TB a
    day's query prunes row groups by footer stats instead of decoding a
    month. (The legacy nanos-long vintage rebuilt ts as an expression,
    which could never push down.)"""
    ev = load_table(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] != "timestamp_ntz":
        import pytest

        pytest.skip("legacy nanos testdata: ts is a rebuilt expression")
    flt = ev.filter(
        F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    ).select("event_id", "ts", "value")
    plan = explain_str(flt, "formatted")
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan
    # Column pruning holds through the projection: no props/user_id read.
    assert "props" not in plan.split("ReadSchema")[1].split("\n")[0]


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_near_dup_self_joins_reuse_one_signature_pipeline(spark, sf_dir):
    """The pair-generating self-joins (MinHash banding, SimHash blocks,
    Jaccard postings) must plan both sides as IDENTICAL shuffle exchanges
    so ReuseExchange computes the signature/shingle pipeline once. With
    the default broadcast strategy one side becomes a BroadcastExchange —
    a different exchange kind — and the whole upstream pipeline executes
    twice (the r6 plans did exactly that: every shingle hashed k times
    per side). Executed-plan check: AQE only materializes reuse at
    runtime."""
    from vrod_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    for name, df in (
        ("minhash", minhash_lsh_pairs(docs, k=32, bands=16, n=3, min_jaccard=0.2)),
        ("simhash", simhash_pairs(docs, max_hamming=4, bands=8)),
        ("jaccard", jaccard_pairs(docs, n=3, max_shingle_df=20)),
    ):
        plan = _executed_plan(df)
        assert "ReusedExchange" in plan, f"{name}: signature pipeline not reused"
        assert "BroadcastExchange" not in plan, (
            f"{name}: a broadcast side defeats exchange reuse"
        )
        assert "ShuffledHashJoin" in plan, name


def test_simhash_python_stage_runs_on_widened_partitioning(spark, sf_dir):
    """The SimHash majority vote is a mapInPandas OPERATOR pinned above
    the widen() repartition. The earlier pandas_udf expression form was
    an ArrowEvalPython node that projection-pushdown legally moved BELOW
    the round-robin exchange — serializing the whole signature
    computation onto the single scan task of a one-row-group file."""
    from vrod_spark.operators.dedup import simhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(simhash_signatures(docs))
    assert "MapInPandas" in plan
    # the exchange (widen repartition) must sit BELOW the python stage:
    # in the tree printout the child prints after its parent.
    assert plan.index("MapInPandas") < plan.index("Exchange RoundRobinPartitioning")


def test_winnow_relational_stays_in_codegen_and_window(spark, sf_dir):
    """The q49 winnow leg's gram hashing must be codegen (a Project of
    md5 over the exploded positions feeding a window-min), never an
    interpreted higher-order transform: no ArrowEvalPython / BatchEval
    node, exactly one Window operator."""
    from vrod_spark.functions.text import winnow_fingerprints_relational

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 7)
    plan = _executed_plan(winnow_fingerprints_relational(docs))
    assert "Window" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_pq_search_is_take_ordered_over_python_scan(spark, sf_dir):
    """PQ ADC top-k must plan as TakeOrderedAndProject (heap, no global
    sort) above the single mapInPandas scan stage — the same pinned
    shape as exact kNN, which is what keeps ADC search one pass at any
    corpus size."""
    from vrod_spark.operators.pq import pq_encode, pq_search, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, nbits=4, sample_size=512)
    codes = pq_encode(emb, cb)
    q = [0.0] * 64
    plan = explain_str(pq_search(codes, cb, q, 10), "formatted")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("MapInPandas") >= 1
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_shared_jaccard_graph_is_one_materialization(spark, sf_dir):
    """q26 and q59 consume ONE session-scoped materialized candidate-graph
    build (r17: the output-sized top-20 ∪ edges>=0.05 slices): same
    (session, sf_dir) returns the identical underlying DataFrame object
    (so all consumers read the same localCheckpoint partitions), and the
    builder's union plan serves the pair-aggregation subtree to both legs
    through ReusedExchange — the corpus tokenize→shingle→postings
    pipeline runs exactly once per build."""
    from vrod_spark.queries import (
        _shared_jaccard_graph_slices,
        shared_jaccard_edges05,
        shared_jaccard_top20,
    )

    a = _shared_jaccard_graph_slices(spark, sf_dir)
    b = _shared_jaccard_graph_slices(spark, sf_dir)
    assert a is b
    # Materialized: the plan is a checkpoint scan, not the inverted-index
    # join — re-collecting runs no shuffle of the corpus.
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan or "Checkpoint" in plan
    other = _shared_jaccard_graph_slices(spark, sf_dir.rstrip("/"))
    assert other is a  # path normalization: same snapshot, same entry
    # Both consumer slices restrict the SAME materialization (leg filter
    # over the checkpointed union, never a rebuild).
    top = shared_jaccard_top20(spark, sf_dir)
    comp = shared_jaccard_edges05(spark, sf_dir)
    assert top.columns == comp.columns == [
        "id_a", "id_b", "inter", "jaccard", "containment"
    ]
    assert top.count() <= 20
    # The union BUILDER plan must reuse the pair-aggregation exchange
    # across its two legs (the corpus pipeline runs once, not twice).
    # Executed-plan check: AQE only materializes reuse at runtime.
    from vrod_spark.operators.dedup import jaccard_pairs
    from vrod_spark.queries import _t
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, n=3, max_shingle_df=20, min_jaccard=0.0)
    union = (
        pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
        .withColumn("leg", F.lit("top"))
        .unionByName(
            pairs.filter(F.col("jaccard") >= 0.05).withColumn("leg", F.lit("comp"))
        )
    )
    uplan = _executed_plan(union)
    assert "ReusedExchange" in uplan
    assert "BroadcastExchange" not in uplan


def test_shared_doc_tokens_is_one_materialization_and_complete(spark, sf_dir):
    """The tokenize-once snapshot (q53's three legs): same session+snapshot
    returns the identical checkpointed DataFrame; EVERY document row is
    retained (empty docs keep empty arrays — BM25's n_docs/avgdl depend on
    them) and the arrays equal tokens(lower(text)) recomputed directly."""
    from vrod_spark.functions.text import tokens
    from vrod_spark.queries import shared_doc_tokens
    from vrod_spark.sources.tables import load_table

    a = shared_doc_tokens(spark, sf_dir)
    assert shared_doc_tokens(spark, sf_dir) is a
    docs = load_table(spark, sf_dir, "documents")
    assert a.count() == docs.count()
    direct = docs.select("doc_id", tokens(F.lower("text")).alias("toks"))
    assert a.exceptAll(direct).count() == 0
    assert direct.exceptAll(a).count() == 0


def test_shared_repetition_report_equals_inline_form(spark, sf_dir):
    """q49's repetition leg consumes the session's per-doc repetition
    report (r17); the report must equal the pre-r17 inline
    tokenize+repetition_stats pass row-for-row, and be session-cached."""
    from vrod_spark.functions.text import repetition_stats, tokens
    from vrod_spark.queries import shared_repetition_report
    from vrod_spark.sources.tables import load_table

    a = shared_repetition_report(spark, sf_dir)
    assert shared_repetition_report(spark, sf_dir) is a
    docs = load_table(spark, sf_dir, "documents")
    direct = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", repetition_stats(F.col("toks")).alias("r"))
        .select(
            "doc_id",
            F.col("r.n_shingles").alias("n_shingles"),
            F.col("r.n_distinct").alias("n_distinct"),
        )
    )
    assert a.exceptAll(direct).count() == 0
    assert direct.exceptAll(a).count() == 0


def test_ivfpq_engine_search_partition_prunes(spark, sf_dir, tmp_path):
    """SEARCHSIMILAR over an ivfpq collection must PARTITION-PRUNE the
    code scan (PartitionFilters on the probed bucket= dirs — the 100 TB
    contract: unprobed buckets are never read) and rescore through the
    pinned TakeOrderedAndProject top-k, with the ADC phase reading codes
    through mapInPandas."""
    from vrod_spark.engine import Engine

    emb = load_table(spark, sf_dir, "embeddings")
    records = emb.select(
        F.col("vec_id").alias("id"),
        "embedding",
        F.lit("p").alias("payload"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    eng = Engine.create(spark, str(tmp_path), "pqplan")
    eng.execute("CREATE", collection="emb")
    eng.execute("BULKINSERT", collection="emb", arg=records)
    eng.execute("REINDEX", collection="emb", arg={"kind": "ivfpq", "n_centroids": 8})
    qv = [0.125] * 64
    df = eng.execute("SEARCHSIMILAR", collection="emb", arg={"vector": qv, "k": 5}).df
    plan = explain_str(df, "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan
    # the pruned filter actually references probed bucket values
    assert "bucket#" in plan or "bucket IN" in plan
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" in plan


def test_ngram_lm_model_join_broadcasts(spark, sf_dir):
    """The perplexity scorer's model join must be a BROADCAST hash join
    — the gram stream (O(corpus chars)) is never sort-merge-shuffled;
    the only exchanges are the model-building aggregations and the
    per-document aggregation."""
    from vrod_spark.functions.text import ngram_lm_perplexity

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(ngram_lm_perplexity(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winnow_overlap_pairs_reuses_fingerprint_pipeline(spark, sf_dir):
    """The MOSS pair generator's self-join must plan as colocated
    shuffle-hash joins with the winnowing pipeline executed ONCE
    (ReuseExchange streams the second side and the df-cap prune from the
    same shuffle files) — the same canonical-exchange shape pinned for
    jaccard_pairs."""
    from vrod_spark.operators.dedup import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 7)
    plan = _executed_plan(winnow_overlap_pairs(docs, min_shared=2))
    assert "ShuffledHashJoin" in plan
    assert "ReusedExchange" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_broadcasts_stats_and_takes_ordered(spark, sf_dir):
    """BM25 (r11 array-expression form): per-term tfs are codegen array
    exprs — NO explode, NO postings shuffle; the only exchanges are the
    single-row corpus-stats agg and its broadcast back over the scoring
    scan; the top-k cut plans as TakeOrderedAndProject, not a global
    sort; and the n_matched > 0 cut pushes down to the scoring scan as
    a data filter."""
    from vrod_spark.operators.retrieval import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    plan = explain_str(bm25_rank(docs, ["hash", "join", "scan"], top_k=20), "formatted")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # stats row broadcast
    assert "Generate" not in plan  # no explode anywhere
    # The sole shuffle is the stats agg's SinglePartition exchange.
    import re

    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan
    assert "SinglePartition" in plan


def test_duplicate_spans_dup_mark_is_partial_agg_broadcast_semi(spark, sf_dir):
    """The exact-substring dup-gram test must plan as a partial-aggregable
    groupBy (map-side partial_min/partial_max pre-combines a hot gram per
    task — the skew fix a Window.partitionBy(g) lacks: one boilerplate
    gram in 10^8 documents would otherwise be ONE window task) feeding a
    broadcast LEFT SEMI probe, with the token-window exchange computed
    once (ReuseExchange) so the probe costs no second scan."""
    from vrod_spark.operators.dedup import duplicate_span_arrays

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(duplicate_span_arrays(docs, min_tokens=8))
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_min" in final and "partial_max" in final
    assert "LeftSemi" in final and "BroadcastHashJoin" in final
    assert final.count("FileScan parquet") == 1, "probe must reuse the token exchange"
    assert final.count("ReusedExchange") >= 1


def test_semantic_dedup_is_one_shuffle_then_grouped_numpy(spark, sf_dir):
    """SemDeDup's within-cluster pairwise pass must be ONE exchange on the
    cluster id feeding a grouped numpy stage (FlatMapGroupsInPandas) —
    never a join: a zip_with/aggregate cosine self-join is interpreted
    (HigherOrderFunction is CodegenFallback) and was ~20x slower at
    sum(n_c^2) pair volume. The assignment pipeline (scan + ArrowEval
    assign UDF) must appear exactly once."""
    from vrod_spark.operators.cluster import seed_centroids, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = seed_centroids(emb, 8)
    plan = _executed_plan(semantic_dedup(emb, cents, min_cosine=0.99))
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan, "pairwise pass must not plan as a join"
    # AQE's toString repeats nodes across the Initial Plan and per-stage
    # sections — count only the final executed section.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, "assignment must run once"
    assert final.count("Exchange hashpartitioning") == 1, "one shuffle only"


def test_incremental_minhash_restricts_probe_side(spark, sf_dir):
    """delta_ids turns the banded self-join asymmetric: the probe side is
    semi-join-restricted to the delta BEFORE the band join, so pair
    expansion is O(delta x bucket). The plan must carry exactly one
    LeftSemi (the delta restriction) that the full run doesn't have."""
    from vrod_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(400)
    delta = docs.select("doc_id").limit(40)
    full_plan = _executed_plan(minhash_lsh_pairs(docs, min_jaccard=0.5))
    inc_plan = _executed_plan(
        minhash_lsh_pairs(docs, min_jaccard=0.5, delta_ids=delta)
    )
    final_full = full_plan.split("== Initial Plan ==")[0]
    final_inc = inc_plan.split("== Initial Plan ==")[0]
    assert "LeftSemi" not in final_full
    assert "LeftSemi" in final_inc


def test_zorder_compact_plans_range_partitioning(spark, tmp_path):
    """compact(zorder=...) must cluster via ONE range exchange on the
    z-value (plus codegen bucket/interleave arithmetic) — no Python
    stage, no extra shuffles beyond the range partitioning."""
    from vrod_spark.engine import Engine
    from vrod_spark.operators.zorder import zorder_value

    eng = Engine.create(spark, str(tmp_path), "zpdb")
    eng.db.create_collection("zc", schema="id bigint, x bigint, y bigint")
    df = spark.range(4096).selectExpr(
        "id", "id % 64 AS x", "pmod(hash(id), 64) AS y"
    )
    eng.execute("BULKINSERT", collection="zc", arg=df)
    col = eng.db.collection("zc")
    base = col.read()
    from pyspark.sql import functions as F

    ordered = (
        base.withColumn("__vr_z", zorder_value(base, ["x", "y"]))
        .repartitionByRange(8, F.col("__vr_z"))
        .sortWithinPartitions("__vr_z")
        .drop("__vr_z")
    )
    plan = _executed_plan(ordered)
    final = plan.split("== Initial Plan ==")[0]
    assert "rangepartitioning" in final.lower()
    assert "ArrowEvalPython" not in final and "PythonUDF" not in final


def test_dsir_model_join_broadcasts_and_text_stays_out_of_shuffle(spark, sf_dir):
    """DSIR (sampling.dsir_scores): the 256-row log-ratio model must join
    back to doc-bucket counts as a BROADCAST (never a shuffle of the
    count stream against a 256-row side), the whole plan stays python-free
    codegen, and the exchanged rows carry only (id, bucket, count) — the
    document text never leaves the scan stage."""
    from vrod_spark.operators.sampling import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_scores(docs, F.col("lang") == "en")
    plan = explain_str(scored, "formatted")
    assert "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # text is consumed by the explode projection, not shuffled: no
    # Exchange row schema mentions the text column
    for seg in plan.split("Exchange")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head


def test_gopher_rules_are_pure_codegen(spark, sf_dir):
    from vrod_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    plan = explain_str(docs.select(gopher_rules("text").alias("m")), "formatted")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
