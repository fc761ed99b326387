"""Physical-plan assertions — the 100 TB contract, pinned.

Correctness tests prove the small-SF answers; these prove the PLANS are
the ones that survive a 1000-executor scale-up: filters reach the parquet
scan (PushedFilters), scans read only needed columns (ReadSchema), hot
paths stay inside WholeStageCodegen (no row-at-a-time Python), big joins
are equi-joins (never cartesian), small dims broadcast, and aggregates do
map-side partial combine before the exchange. A regression here is
invisible at sf0.01 and catastrophic at 100 TB — exactly why it is
asserted, not eyeballed.
"""

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def plan_of(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_time_filter_pushdown_and_column_pruning(spark):
    """The round-2 regression class: a cast above the scan silently kills
    pushdown. l_shipdate <= X must reach PushedFilters, and the 16-column
    lineitem scan must be pruned to the 6 used columns."""
    plan = plan_of(spark, "tpch_q1_pricing")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "LessThanOrEqual(l_shipdate" in pushed[0]
    schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in schema and "l_partkey" not in schema


def test_small_dims_broadcast(spark):
    """TPC-H Q5 shape: every dimension side must broadcast — a shuffled
    region/nation join at 100 TB is pure waste."""
    plan = plan_of(spark, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_windowed_agg_partial_combine(spark):
    """Windowed mean: two HashAggregates around one Exchange = map-side
    partial combine; the shuffle moves per-window partials, not rows."""
    plan = plan_of(spark, "window_mean_1h")
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_hot_filters_stay_jvm(spark):
    """Lambda-language filters compile to Column expressions inside
    WholeStageCodegen — never BatchEvalPython in the scan path.

    (This query's predicate is a regex =~, which parquet cannot evaluate
    — its former PushedFilters entry was only the IsNotNull that
    constraint INFERENCE added, and constraint propagation is disabled
    engine-wide because it is exponential in generated-expression width;
    see session.py. Real comparison predicates still push down —
    test_time_filter_pushdown_and_column_pruning pins that.)"""
    plan = plan_of(spark, "lambda_where_regex")
    assert "BatchEvalPython" not in plan
    assert "codegen id" in plan  # inside WholeStageCodegen spans
    assert "Filter" in plan and "rlike" in plan.lower()


def test_ordered_transform_single_shuffle(spark):
    """movingAverage: one Exchange (the group-key repartition), one Window,
    no Python in the plan."""
    plan = plan_of(spark, "moving_avg5")
    assert plan.count("(3) Exchange") == 1 and plan.count("Exchange") <= 2
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_join_is_equi_join(spark):
    """Tolerance joins must compile to equi-joins on (bucket, seq, dims) —
    a nested-loop/cartesian fallback would be quadratic at scale."""
    plan = plan_of(spark, "join_tolerance")
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_signature_is_codegen(spark):
    """MinHash signatures: one codegen'd hash-aggregate over xxhash64
    terms — the 64-hash family must NOT evaluate in Python."""
    plan = plan_of(spark, "minhash_near_dup")
    assert "BatchEvalPython" not in plan
    assert "xxhash64" in plan
    # the signature stage itself: the r7 zero-shuffle rewrite computes the
    # 64 per-doc minima as an expression-level fold riding the scan — pin
    # the fold, not just the downstream distinct's aggregate
    assert "zip_with" in plan and "array_min" in plan


def test_image_dhash_pair_join_has_no_python(spark):
    """Image perceptual-hash near-dup: the ONLY Python hop is the Arrow
    decode (MapInPandas); the dHash packing is a JVM projection and the
    banded Hamming self-join moves (id, 8B hash) through an equi-join —
    no per-pair Python, no cartesian blow-up."""
    plan = plan_of(spark, "image_dhash_near_dup")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan          # the decode hop, nothing else
    assert "shiftleft" in plan            # dHash packed JVM-side
    # pair search is a real join on (band, band_val)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_sideload_levels_broadcast(spark):
    """Every sideload level must be a BROADCAST join — the lookup tables
    are config-sized and the fact scan must stay shuffle-free."""
    plan = plan_of(spark, "sideload_hierarchy")
    assert plan.count("BroadcastHashJoin") >= 2
    # the fact side must stay shuffle-free: every Exchange in the plan is
    # a broadcast of a lookup level, never a hash repartition
    assert "Exchange hashpartitioning" not in plan


def test_multimodal_frames_projection_pruned(spark):
    """Frame sampling must read only (doc_id, text) — picking frames
    BEFORE decode is the whole point; a full-column documents scan at
    100 TB defeats it."""
    plan = plan_of(spark, "multimodal_frames")
    schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema and all("lang" not in l and "source" not in l for l in schema)


def test_udf_moving_avg_single_shuffle(spark):
    """The UDF surface (applyInPandas) must shuffle ONCE on the group key
    and run Arrow-batched — no extra exchanges around the Python stage."""
    plan = plan_of(spark, "udf_moving_avg")
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) <= 1


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark n-gram side must broadcast and the corpus must never
    hash-shuffle its text — only (id, gram) projections move."""
    plan = plan_of(spark, "decontamination")
    assert "BroadcastHashJoin" in plan
    # contaminated-id dedup + anti-join may shuffle ids, never documents:
    # no Exchange may carry the text column
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_boilerplate_shuffles_digests_not_text(spark):
    """Paragraph document-frequency shuffles 16-byte digests; the final
    reassembly shuffles (id, pos, para) — the full documents never move
    twice."""
    plan = plan_of(spark, "boilerplate_removal")
    assert "md5" in plan  # digest computed before the frequency aggregate
    # frequency aggregate must have a map-side partial before its exchange
    assert "partial_count" in plan or "partial_finalmerge" in plan.lower() or "HashAggregate" in plan


def test_no_row_python_in_any_headline_plan(spark):
    """Sweep every bench headline query: row-at-a-time Python
    (BatchEvalPython) must never appear — Python is allowed only in
    Arrow-batched form (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) and only where the operator is inherently
    stateful or a parser edge."""
    import bench

    arrow_ok = {
        "lineprotocol_roundtrip",   # ingest-edge parser (Arrow mapInPandas)
        "tickscript_e2e",
        "minhash_near_dup",
        "simhash_near_dup",
        "stream_window_mean",
        "boilerplate_removal",
        "decontamination",
        "image_dhash_near_dup",     # the image-decode hop (Arrow mapInPandas)
    }
    for name in bench.HEADLINE:
        if name.startswith("stream_"):
            continue  # streaming plans print differently; covered elsewhere
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        if name not in arrow_ok:
            assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, name


def test_lambda_scalar_suite_is_pure_codegen(spark):
    """The merged scalar-lambda registry query (22 expressions) must be
    one WholeStageCodegen projection — no Python, no shuffle."""
    plan = plan_of(spark, "lambda_scalar_fns")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "codegen id" in plan
    assert "Exchange hashpartitioning" not in plan


def test_multimodal_decode_payload_built_jvm_side(spark):
    """multimodal_decode builds its Netpbm payloads with concat/unhex IN
    THE PLAN (no Python payload synthesis) and decodes with exactly one
    Arrow-batched MapInPandas hop."""
    plan = plan_of(spark, "multimodal_decode")
    # one operator = one tree entry "MapInPandas (n)" (the node id also
    # appears in the detail section as "(n) MapInPandas")
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan
    assert "unhex" in plan  # payload assembly is a column expression


def test_point_transforms_no_python_no_cartesian(spark):
    """The merged difference/cumsum/derivative/elapsed query: pure window
    functions realigned by event_id equi-joins — no Python, never a
    nested-loop join."""
    plan = plan_of(spark, "point_transforms")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_median_stats_mode_join_broadcasts(spark):
    """The deterministic-mode branch joins 5 rows a side — it must
    broadcast, never shuffle the stats."""
    plan = plan_of(spark, "spread_median_stats")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_assignment_distributed(spark):
    """VERDICT r3 #4 pinned at the plan level: ann_recall's IVF path must
    not re-createDataFrame the query set on the driver (no
    LocalTableScan feeding the probe join)."""
    from kapacitor_spark.dataprep.similarity import ivf_topk
    from kapacitor_spark.session import read_table

    emb = read_table(spark, f"{SF_DIR}/embeddings.parquet")
    df = ivf_topk(emb, emb.limit(8), k=3, n_lists=4, nprobe=2)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan
    assert "LocalTableScan" not in plan


def test_cpu_heavy_scans_are_spread(spark):
    """decontamination and lineprotocol_roundtrip repartition their
    one-split scan inputs so per-doc hashing / rendering uses every core
    (the 4x sf0.1 win) — pinned as a plan property, not a claim."""
    for name in ("decontamination", "lineprotocol_roundtrip"):
        plan = plan_of(spark, name)
        assert "ROUND_ROBIN" in plan or "RoundRobinPartitioning" in plan, name


def test_corpus_prep_pipeline_plan(spark):
    """The composed cleaning pipeline keeps each stage's plan property:
    digest-keyed dedup aggregation, BROADCAST gram anti-join for
    decontamination, no cartesian products, no Python in the plan."""
    plan = plan_of(spark, "corpus_prep_pipeline")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_span_dedup_shuffles_digests_not_text(spark):
    """Span-level dedup shuffles (xxhash64, doc_id, pos) — never shingle
    strings or document text: shingle frequency must be a hash aggregate
    with map-side partial combine (skew-proof vs hot boilerplate
    shingles), the dup-hash set joins back as an equi-join (no
    cartesian), and no Python appears anywhere."""
    plan = plan_of(spark, "span_dedup_stats")
    assert "xxhash64" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # no shingle STRING may reach an exchange: concat_ws appears only in
    # string-shingle ops, and span dedup never builds gram strings at all
    assert "concat_ws" not in plan


def test_source_mix_and_embedding_norms_single_aggregate(spark):
    """Accounting queries stay one hash-aggregate: partial_* map-side
    combine before the exchange, no joins."""
    for name in ("source_mix_stats", "embedding_norms"):
        plan = plan_of(spark, name)
        assert "partial_" in plan, name
        assert "Join" not in plan, name


def test_mix_token_budget_single_scan(spark):
    """Mixture construction is one scan-level explode after the totals
    aggregate: the returned plan has no joins, no Python, and exactly one
    Generate (the epoch explode)."""
    plan = plan_of(spark, "mix_token_budget")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Generate") >= 1
    assert "CartesianProduct" not in plan


def test_video_dhash_pipeline_python_hops_bounded(spark):
    """Video frame near-dup: exactly THREE MapInPandas hops are allowed —
    fixture mux (build the planted AVIs), demux (extract_mjpeg_frames),
    and the JPEG decode. The per-frame dHash packs JVM-side (shiftleft),
    the per-frame banding is an equi-join keyed by (frame_idx, band,
    band_val), and the majority vote is a map-side-combining count — no
    per-pair Python, no cartesian, frame payloads never enter the join."""
    plan = plan_of(spark, "video_dhash_near_dup")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # the Arrow hops exist...
    # ...but bytes never shuffle: no exchange may carry the clip payload,
    # the demuxed frame, or the decoded pixel array — only (id,
    # frame_idx, 8B hash) and band keys move. (Counting MapInPandas
    # nodes is unstable: explain(formatted) re-prints the persisted sig
    # subtree under every consumer branch.)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "payload" not in line and "frame#" not in line
            assert "pixels" not in line
    assert "shiftleft" in plan  # dHash packed JVM-side
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    # the majority count does partial combine before its exchange
    assert plan.count("HashAggregate") >= 2


def test_phash_oracle_rederives_not_copies(spark):
    """image_phash_near_dup's DCT runs inside the decode hop (numpy
    matmuls) — the plan must show the Arrow hop and the banded equi-join
    but NO per-pair Python and NO cartesian path."""
    plan = plan_of(spark, "image_phash_near_dup")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_hll_rollup_partial_sketches_before_exchange(spark):
    """The sketch rollup must combine map-side: partial_hll_sketch_agg
    runs in the scan stage so only kilobyte sketch states cross the
    exchange — never raw values."""
    from kapacitor_spark.dataprep.sketches import hll_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = hll_rollup(ev, dims=("event_type",))._jdf.queryExecution().executedPlan().toString()
    assert "partial_hll_sketch_agg" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_theta_kll_rollups_partial_agg_and_equi_join(spark):
    """The theta/KLL rollups must also combine map-side (only sketch
    states cross the exchange), and theta_retention's consecutive-day
    pairing must plan as an equi-JOIN on the bucket key — never a
    nested-loop over the rollup."""
    from kapacitor_spark.dataprep.sketches import (
        kll_rollup,
        theta_retention,
        theta_rollup,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    troll = theta_rollup(ev, every="1 day")
    tplan = troll._jdf.queryExecution().executedPlan().toString()
    assert "partial_theta_sketch_agg" in tplan
    kplan = (
        kll_rollup(ev, dims=("event_type",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_kll_sketch_agg_double" in kplan
    rplan = theta_retention(troll)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in rplan
    assert "BroadcastNestedLoop" not in rplan
    for plan in (tplan, kplan, rplan):
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_cm_rollup_rows_shuffle_before_sketch_build(spark):
    """r11 optimization round: a CM sketch state is ~560 KB per group, so
    map-side partials cost tasks × groups × 560 KB (measured 1.42 s
    single-task at sf0.1; an OOM-scale blowup at 1000 tasks). The rollup
    must shuffle the NARROW key rows by the group key FIRST — after the
    exchange each group's sketch is built once and no sketch bytes cross
    the wire. The exchange must carry only (bucket, dims, key); the query
    side's only Python stays the applyInPandas over ROLLUP rows."""
    from kapacitor_spark.dataprep.sketches import cm_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    jplan = cm_rollup(ev, dims=("event_type",))._jdf.queryExecution()
    plan = jplan.executedPlan().toString()
    # the exchange is the row repartition, BELOW both aggregate twins —
    # partial and final run back-to-back post-shuffle, so partial state
    # is bounded by groups-per-task, not tasks × groups
    assert "partial_count_min_sketch" in plan
    # structurally: exactly one Exchange (the row repartition), and no
    # sketch aggregate below it — the subtree under the Exchange is the
    # bare (bucket, dims, key) projection over the scan
    assert plan.count("Exchange hashpartitioning") == 1
    below_exchange = plan[plan.rindex("Exchange hashpartitioning"):]
    assert "count_min_sketch" not in below_exchange
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_cm_rollup_distributed_build_bytes_identical(spark):
    """The pre-shuffled build must produce byte-identical sketches to a
    straight groupBy (CM cells are order-independent counters): compare
    against an agg over the same rows with no repartition."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from kapacitor_spark.dataprep.sketches import cm_rollup

    new = {
        (r["bucket"], r["event_type"]): (r["n_rows"], bytes(r["cm"]))
        for r in cm_rollup(ev, dims=("event_type",)).collect()
    }
    bucket = F.window(F.col("ts"), "1 day").start.alias("bucket")
    ref = {
        (r["bucket"], r["event_type"]): (r["n_rows"], bytes(r["cm"]))
        for r in ev.groupBy(bucket, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_min_sketch(
                F.col("user_id").cast("long"),
                F.lit(2e-4), F.lit(0.99), F.lit(17),
            ).alias("cm"),
        )
        .collect()
    }
    assert new == ref


def test_doc_chunking_is_shuffle_free_projection(spark):
    """Chunking is per-row: the plan must be a projection+explode riding
    the pruned (doc_id, text) scan — no Exchange, no Python."""
    plan = plan_of(spark, "doc_chunking")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Generate" in plan  # the explode
    schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" not in schema and "source" not in schema


def test_bm25_all_joins_broadcast_topk_partial(spark):
    """BM25 scoring: the corpus-size postings table must only ever meet
    BROADCAST hash joins (df + globals ride the tiny query side — a
    shuffled or windowed df-attach would pin a stopword's posting list
    into one task), and the per-query top-k must push a partial
    WindowGroupLimit below the query_id shuffle so only ~k rows per
    partition move."""
    plan = plan_of(spark, "bm25_topk")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan  # map-side combine on tf


def test_lm_perplexity_partial_counts_no_python(spark):
    """Bigram-LM training/scoring: count tables build with map-side
    partial aggregation; the scoring join is an equi-join (broadcast at
    this SF, shuffle-splittable at scale — never nested-loop); the whole
    pipeline stays JVM-side."""
    plan = plan_of(spark, "lm_perplexity")
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the 1-row vocab-size attachment
    # (explain("formatted") prints each node twice: tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("partial_count") >= 2


def test_mg_rollup_counts_before_python(spark):
    """The heavy-hitters rollup must aggregate exactly JVM-side (map-side
    partial counts before the exchange) and feed only the per-bucket
    COUNT TABLE into the Python compression hop — never raw events."""
    from kapacitor_spark.dataprep.sketches import mg_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = mg_rollup(ev, dims=("event_type",))._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    # exactly one Python hop (the compression), downstream of the agg
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_gopher_rules_is_shuffle_free_projection(spark):
    """The Gopher rule set must ride the scan: pure column expressions,
    no Exchange, no Python, column pruning down to (doc_id, text)."""
    plan = plan_of(spark, "gopher_quality_rules")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "doc_id" in plan and "n_comments" not in plan  # pruned scan


def test_dsir_hashed_model_broadcasts(spark):
    """DSIR's 100 TB shape: with hashed features the model is a bounded
    table, so the corpus-size feature stream must meet a BROADCAST hash
    join (a shuffle join would move the whole gram stream), and the
    per-doc sum must partially aggregate map-side."""
    from kapacitor_spark.dataprep.dsir import dsir_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.filter("doc_id % 7 = 0")
    df = dsir_weights(docs, target, n_buckets=4096)
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_str
    assert "SortMergeJoinExec" not in plan_str
    assert "partial_sum" in plan_str or "partial_count" in plan_str
    assert "BatchEvalPython" not in plan_str


def test_tick_stream_window_incremental_state(spark):
    """The streaming TICK compile must plan as a real Structured
    Streaming stateful aggregation (StateStore save/restore around the
    window agg), with partial aggregation below the exchange — not a
    batch re-plan per trigger."""
    from kapacitor_spark.tick import run_tickscript_stream

    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    script = """
stream
    |from()
        .measurement('events')
        .groupBy('event_type')
    |window()
        .period(1h)
        .every(1h)
    |mean('value')
        .as('mean_value')
    |httpOut('w')
"""
    out = run_tickscript_stream(script, sources={"events": sdf}, time_col="ts")["w"]
    assert out.isStreaming
    import tempfile

    q = (
        out.writeStream.format("memory")
        .queryName("tick_plan_probe")
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # a stateful streaming aggregation reports its state store in the
    # progress metrics; a batch re-plan would have no state operators
    prog = q.recentProgress[-1]
    assert prog["stateOperators"], "no stateful operator in the streaming plan"
    assert prog["stateOperators"][0]["numRowsTotal"] > 0


def test_tick_stream_alert_plans_keyed_state(spark):
    """The r11 live alert path: alert().stateChangesOnly() must compile
    onto ONE applyInPandasWithState keyed operator (the alert machine's
    group state), visible both in the analyzed plan and as a state
    operator in progress metrics — and the level predicates must stay
    declarative (a CASE/column filter UPSTREAM of the Python hop, not
    per-row Python over the raw stream)."""
    from kapacitor_spark.tick import run_tickscript_stream

    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    script = """
stream
    |from()
        .measurement('events')
        .groupBy('user_id')
    |alert()
        .crit(lambda: "value" > 180)
        .stateChangesOnly()
    |httpOut('a')
"""
    out = run_tickscript_stream(
        script, sources={"events": sdf}, time_col="ts",
        tiebreak=("event_id",),
    )["a"]
    assert out.isStreaming
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in analyzed
    # exactly one Python state hop; the level CASE is a column expr
    assert analyzed.count("FlatMapGroupsInPandasWithState") == 1
    import tempfile

    q = (
        out.writeStream.format("memory")
        .queryName("tick_alert_plan_probe")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = q.recentProgress[-1]
    assert prog["stateOperators"], "no keyed state in the streaming plan"


def test_q19_disjunction_pushes_cnf_residues(spark):
    """TPC-H Q19 shape: Catalyst must extract the per-table residues of
    the three-way OR (quantity ranges to the lineitem scan, brand/size
    conjuncts to the part scan) so BOTH scans prune before the join, and
    the filtered dim must broadcast."""
    plan = plan_of(spark, "tpch_q19_disjunctive")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_parse_lines_one_scan_no_python(spark, tmp_path):
    """The line-protocol parse reads its input once and stays in the JVM,
    for a batch input and a streaming input alike: one scan, and no
    MapInPandas, BatchEvalPython or Union node in the executed plan."""
    from kapacitor_spark.sources import parse_lines

    d = str(tmp_path / "lp_in")
    spark.createDataFrame(
        [("m,t=a f=1i 1000000000",), ('m s="x y" 2000000000',)], "value string"
    ).write.text(d)
    batch = parse_lines(spark.read.text(d))
    assert batch.count() == 2
    bplan = batch._jdf.queryExecution().executedPlan().toString()

    q = (
        parse_lines(spark.readStream.text(d))
        .writeStream.format("memory").queryName("parse_lines_plan")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    splan = q._jsq.explainInternal(True)
    assert spark.table("parse_lines_plan").count() == 2
    for plan in (bplan, splan):
        assert plan.count("FileScan") == 1, plan
        for node in ("MapInPandas", "BatchEvalPython", "Union"):
            assert node not in plan, plan


def test_state_track_fused_single_streak_pass(spark):
    """r12: state_tracking computes both stateCount and stateDuration from
    ONE streak computation + ONE per-streak window (chained
    state_count().state_duration() rebuilds the lag+cumsum machinery and
    re-sorts per call: 6 Window / 4 Sort). Values must equal the chained
    build exactly."""
    from kapacitor_spark import Pipeline
    from kapacitor_spark.session import read_table

    ev = read_table(spark, f"{SF_DIR}/events.parquet")
    p0 = Pipeline.from_df(
        ev, time_col="ts", dims=("user_id",), tiebreak=("event_id",)
    )
    fused = p0._state_track("value > 100", "1s", "state_n", "state_dur").result()
    fused = fused.select("event_id", "user_id", "state_n", "state_dur")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fused.explain("formatted")
    plan = buf.getvalue()
    assert plan.count(") Sort") <= 2, plan
    assert plan.count(") Window") <= 3, plan
    chained = (
        p0.state_count("value > 100", as_="state_n")
        .state_duration("value > 100", unit="1s", as_="state_dur")
        .result()
        .select("event_id", "user_id", "state_n", "state_dur")
    )
    assert chained.exceptAll(fused).count() == 0
    assert fused.exceptAll(chained).count() == 0
