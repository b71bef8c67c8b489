"""Physical-plan shape guards: the scale posture is load-bearing.

These tests pin the properties SURVEY.md §4 claims are 'free from
Catalyst' — if a refactor breaks pushdown, pruning or broadcast
placement, correctness tests won't notice but 100TB behavior changes
completely. So the plans themselves are asserted."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sf(spark):
    return "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_lsn_filter_pushed_to_parquet_scan(spark, tmp_path_factory):
    """The micro-batch lsn-range filter must reach the parquet source
    (row-group min/max pruning on a sorted log = skip untouched files)."""
    d = str(tmp_path_factory.mktemp("log"))
    from silk_spark.datagen import changelog

    changelog(spark, 1000, seed=1).write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d).filter((F.col("lsn") >= 100) & (F.col("lsn") < 200))
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(lsn,100)" in plan and "LessThan(lsn,200)" in plan


def test_column_pruning_reaches_scan(spark, sf):
    df = spark.read.parquet(os.path.join(sf, "lineitem.parquet")).select("l_orderkey")
    plan = plan_of(df)
    assert "ReadSchema" in plan
    # only the projected column is read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_star_join_broadcasts_dims(spark, sf):
    import __spark_entry__ as e

    plan = plan_of(e.q_agg_revenue_by_nation(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_dedup_uses_partial_aggregation(spark, sf):
    """latest_by_key must plan as hash-aggregate with a map-side
    partial (duplicates collapse before the shuffle) — not a window
    sort (no partial agg, full sort per partition)."""
    from silk_spark.datagen import changelog
    from silk_spark.operators.dedup import latest_by_key

    df = latest_by_key(changelog(spark, 1000, seed=2))
    plan = plan_of(df)
    # max_by over a string-bearing struct buffer plans as SortAggregate;
    # what matters at scale is the PARTIAL phase before the exchange
    # (duplicates collapse pre-shuffle), which shows as two aggregate
    # nodes with the Exchange between them
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2 and "Exchange" in plan
    assert "Window" not in plan


def test_whole_stage_codegen_covers_measures(spark, sf):
    """Measure expressions must stay inside WholeStageCodegen (JVM),
    not fall out to Python evaluation."""
    from silk_spark.functions.measures import distance

    part = spark.read.parquet(os.path.join(sf, "part.parquet"))
    df = part.select(
        distance("levenshteinDistance", F.col("p_name"), F.col("p_brand")).alias("d"),
        distance("jaccard", F.split("p_name", " "), F.split("p_brand", " ")).alias("j"),
    )
    plan = plan_of(df)
    # formatted explain marks codegen stages with "[codegen id : N]"
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocked_join_is_shuffle_hash_or_smj_on_block(spark):
    """Candidate generation must be an equi-join on the exploded block
    id (never a nested-loop / cartesian plan)."""
    from silk_spark.operators.blocking import candidate_pairs, qgram_blocks

    left = spark.createDataFrame([("1", "abc")], "id string, name string")
    right = spark.createDataFrame([("2", "abd")], "id string, name string")
    pairs = candidate_pairs(left, right, qgram_blocks(F.col("name")), qgram_blocks(F.col("name")))
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stringmap_plan_has_no_python(spark):
    """The north rule bans per-row Python in the hot path: the whole
    StringMap candidate plan (coordinates included) must contain no
    Python evaluation node of any kind."""
    from silk_spark.operators.stringmap import stringmap_candidate_pairs

    df = spark.createDataFrame(
        [(i, f"name {i % 9} variant {i}") for i in range(60)], "id int, name string"
    )
    plan = plan_of(stringmap_candidate_pairs(df, df, "name", "name"))
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas"):
        assert node not in plan, f"per-row Python ({node}) in stringmap plan"


def test_rdf_entity_pivot_is_single_shuffle(spark, tmp_path_factory):
    """Triple scan -> restricted pivot must cost ONE exchange of the
    (restricted) triples; the rdf:type restriction joins broadcast."""
    import os as _os

    from silk_spark.sources.rdf import RDF_TYPE, entity_table, ntriples

    d = str(tmp_path_factory.mktemp("rdfplan"))
    p = _os.path.join(d, "g.nt")
    with open(p, "w") as f:
        for i in range(50):
            f.write(f"<urn:e:{i}> <{RDF_TYPE}> <urn:T:X> .\n")
            f.write(f'<urn:e:{i}> <urn:v:name> "n{i}" .\n')
    ent = entity_table(
        ntriples(spark, p), predicates=["urn:v:name"], type_uri="urn:T:X"
    )
    plan = plan_of(ent)
    # one aggregate exchange (hashpartitioning on the subject) plus the
    # broadcast for the restriction semi-join; no second hash exchange
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "BroadcastExchange" in plan


def test_minhash_arrow_plan_is_one_arrow_eval_no_exchange(spark):
    """The Arrow signature kernel must appear as ONE ArrowEvalPython
    over the scan with no exchange before it (zero-shuffle signatures,
    arithmetic crosses to numpy once)."""
    from silk_spark.operators.dedup_suite import minhash_signatures

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma {i} delta epsilon") for i in range(40)],
        "doc_id int, text string",
    )
    spark.conf.set("spark.silk.signatures.impl", "arrow")
    try:
        plan = plan_of(minhash_signatures(df, num_perm=16))
    finally:
        spark.conf.unset("spark.silk.signatures.impl")
    # formatted explain names each node twice (tree + detail section)
    assert plan.count("ArrowEvalPython") == 2
    # no hash exchange anywhere (the only allowed exchange is
    # _parallel's round-robin widening of the narrow in-memory source)
    assert "Arguments: hashpartitioning" not in plan


def test_ivf_broadcast_assignment_has_no_giant_codegen(spark):
    """Above the inline-literal budget, centroid assignment must plan
    as a broadcast join + HOF argmax — constant-size generated code,
    one BroadcastExchange, no shuffle of the corpus."""
    import silk_spark.operators.similarity as sim

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(16)]) for i in range(50)],
        "vec_id int, embedding array<double>",
    )
    cents = [(c, [float(c + j) for j in range(16)]) for c in range(4)]
    old = sim.INLINE_CENTROID_FLOATS
    sim.INLINE_CENTROID_FLOATS = 1
    try:
        plan = plan_of(sim.assign_nearest_centroid(df, F.col("embedding"), cents))
    finally:
        sim.INLINE_CENTROID_FLOATS = old
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Arguments: hashpartitioning" not in plan


def test_measure_cjk_plan_is_pure_jvm_broadcast(spark):
    """q_measure_cjk (the CJK reading + translit slice): the literal-map
    reading expression and translate+levenshtein must stay whole-stage
    codegen — no Python node — and the adjacent-key self-join must
    broadcast, with the key filter pushed into the parquet scan."""
    import __spark_entry__ as e

    plan = plan_of(e.q_measure_cjk(spark, "/root/testdata/sf0.001"))
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas"):
        assert node not in plan, f"per-row Python ({node}) in measure_cjk plan"
    assert "BroadcastHashJoin" in plan
    assert "GreaterThan(p_partkey,1)" in plan  # pushed to the scan


def test_measure_phoneme_plan_single_arrow_no_shuffle(spark):
    """q_measure_phoneme: exactly one Arrow eval over a pruned
    single-column scan, zero exchanges (both strings derive from
    p_partkey — no join anywhere)."""
    import __spark_entry__ as e

    plan = plan_of(e.q_measure_phoneme(spark, "/root/testdata/sf0.001"))
    # one node; the formatted plan names each node twice (tree + detail)
    assert plan.count("ArrowEvalPython") == 2
    assert "Exchange" not in plan
    assert "ReadSchema: struct<p_partkey:bigint>" in plan


def test_spatial_join_parses_wkt_once_per_entity(spark, sf):
    """The spatial join must parse each side's WKT ONCE per entity
    (a materialized envelope struct before the block join) — never
    per joined pair. Regression pin for the interpreted-HOF re-parse
    cliff: wkt_envelope's old min/max-over-transforms form put ~10
    regexp evaluations per PAIR into the plan (measured ~5x the whole
    query at sf0.1). One regexp_extract_all per side is the floor."""
    import __spark_entry__ as e

    plan = plan_of(e.q_spatial_join(spark, sf))
    assert plan.count("regexp_extract_all") <= 2, (
        "WKT re-parse leaked past the per-entity envelope projection:\n" + plan
    )


def test_ngram_verify_runs_on_hashed_shingles(spark, sf):
    """The candidate-verify joins must carry array<bigint> shingle
    HASHES, not shingle strings (~2.3x shuffle bytes + interpreted
    UTF8String set-intersections; measured 3.5x on the verify stage).
    Pin: no array<string> column crosses the verify exchanges."""
    import os as _os

    from silk_spark.operators.dedup_suite import ngram_jaccard_pairs, release_persisted

    docs = spark.read.parquet(_os.path.join(sf, "documents.parquet"))
    plan = plan_of(ngram_jaccard_pairs(docs, threshold=0.5))
    release_persisted(spark)
    # the exact-Jaccard verify appears as array_intersect/array_union
    # over the joined shingle columns: assert the plan's intersect is
    # over bigint arrays (hashed), which renders without any cast to
    # array<string>
    assert "array_intersect" in plan
    assert "array<string>" not in plan.lower().replace(" ", ""), (
        "shingle STRINGS crossed into the verify plan:\n" + plan
    )


def test_sampling_and_redaction_are_zero_shuffle(spark, sf):
    """Stratified sampling and PII redaction must plan as pure
    codegen filters/projections — zero exchanges. A shuffle appearing
    here means membership/masking stopped being a per-row decision
    and the 100 TB cost model changed."""
    import __spark_entry__ as e

    for name in ("sample_stratified", "text_redact"):
        plan = plan_of(e.queries()[name](spark, sf))
        assert "Exchange" not in plan, f"{name} grew a shuffle:\n" + plan


def test_new_curation_queries_have_no_nested_loop_joins(spark, sf):
    import __spark_entry__ as e

    for name in ("dedup_decontaminate", "text_pack", "sample_epoch_order"):
        plan = plan_of(e.queries()[name](spark, sf))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_reconcile_is_one_slice_scan_and_one_shuffle(spark, tmp_path_factory):
    """A reconcile batch reads its log slice once and shuffles once, on
    (conv_id, turn-block): the candidate lists and the canonical turn
    come out of one blocked exchange, with no candidate self-join and
    no remap join back onto the batch."""
    from silk_spark.datagen import changelog
    from silk_spark.operators.reconcile import reconcile_near_dups
    from silk_spark.streaming.pipeline import CdcPipeline

    d = str(tmp_path_factory.mktemp("rlog"))
    changelog(spark, 2000, seed=5).write.mode("overwrite").parquet(d)
    pipe = CdcPipeline(spark, None, None, changelog_path=d)
    df = reconcile_near_dups(pipe._batch_frame(500, 1500))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange " in ln and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 1, plan
    assert "hashpartitioning(conv_id" in shuffles[0]
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", ""), plan


def _stage_rdds(sc, group: str) -> list[str]:
    """RDD node labels of every stage the job group ran."""
    import re

    store = sc._jsc.sc().statusStore()
    graph_cls = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    tracker = sc.statusTracker()
    labels = []
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            dot = graph_cls.makeDotFile(store.operationGraphForStage(stage))
            labels += re.findall(r'label="([^"]*)"', dot)
    return labels


def test_batch_frame_bounds_are_a_broadcast_local_relation(spark, tmp_path_factory):
    """A path-mode slice joins its rows against a one-row bounds
    relation that lives in the JVM: a LocalTableScan under the
    broadcast, no Python-worker stage when it runs, and no lsn literal
    in any filter (the generated code stays batch-invariant)."""
    import re

    from silk_spark.datagen import changelog
    from silk_spark.streaming.pipeline import CdcPipeline

    d = str(tmp_path_factory.mktemp("blog"))
    changelog(spark, 2000, seed=6).write.mode("overwrite").parquet(d)
    pipe = CdcPipeline(spark, None, None, changelog_path=d)
    df = pipe._batch_frame(500, 1500)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bcast = plan[plan.index("BroadcastExchange"):]
    assert "LocalTableScan [_lo" in bcast.splitlines()[1], plan
    assert "ExistingRDD" not in plan, plan
    assert not re.search(r"lsn#\d+L? (>=|<) \d+", plan), plan
    sc = spark.sparkContext
    group = "batch-frame-bounds"
    sc.setJobGroup(group, "path-mode slice")
    try:
        assert df.count() == 1000
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    labels = _stage_rdds(sc, group)
    assert labels and not any("PythonRDD" in lb for lb in labels), labels


def test_manifest_scan_launches_no_listing_job(spark, tmp_path_factory):
    """Building a scan over more than 32 manifest files (Spark's
    default parallel-listing threshold) launches no Spark job: the
    paths come from the manifest, so they are stat'ed on the driver.
    The files are the 64 one-bucket files a compaction writes (a delta
    commit writes one file per writer task)."""
    from silk_spark.datagen import changelog
    from silk_spark.streaming.pipeline import create_transcripts_table, project_changes

    t = create_transcripts_table(
        spark, str(tmp_path_factory.mktemp("listing")), n_buckets=64
    )
    t.merge_batch(project_changes(changelog(spark, 2000, n_convs=200, seed=8)), "b-0")
    t.compact()
    assert sum(len(fs) for fs in t.current_snapshot()["files"].values()) > 32
    sc = spark.sparkContext
    group = "manifest-scan"
    sc.setJobGroup(group, "build a manifest scan")
    try:
        df = t.scan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() > 0
