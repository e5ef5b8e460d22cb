"""End-to-end pipeline: determinism across parallelism, span-sequence
invariant, checkpoint/resume identity (SURVEY §5.2 items 4-5)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from json_validator_spark.corpus import corpus_ruleset
from json_validator_spark.plans.checkpoint import (
    read_violations,
    run_with_checkpoint,
)
from json_validator_spark.plans.pipeline import salted_repartition, validate_run
from json_validator_spark.sources.synth import (
    span_signature,
    synth_documents,
    synth_media_catalog,
)

N_DOCS = 1500


def _viol_set(result):
    return {tuple(r) for r in result.violations.collect()}


def test_validate_run_end_to_end(spark):
    docs = synth_documents(spark, N_DOCS)
    cat = synth_media_catalog(spark)
    res = validate_run(
        spark, docs, corpus_ruleset(), media_catalog=cat,
        stats_columns=["doc_id"], repartition_to=8,
    )
    viols = _viol_set(res)
    assert len(viols) > 0
    rule_ids = {v[2] for v in viols}
    # every corpus corruption class is detected
    assert {"enum.span.kind", "required.span.text", "format.span.media_ref",
            "monotonic.offsets", "unique.doc_id", "ref.media_catalog"} <= rule_ids
    verdicts = dict(res.doc_verdicts.groupBy("result").count().collect())
    assert verdicts["FAILURE"] > 0 and verdicts["SUCCESS"] > verdicts["FAILURE"]
    agg = {(r["rule_id"], r["severity"]): r["count"] for r in res.aggregate.collect()}
    n_from_agg = sum(v for v in agg.values())
    assert n_from_agg == len(viols)
    pv = res.partition_verdicts.collect()
    assert sum(r["n_docs"] for r in pv) == N_DOCS


def test_run_metrics_single_action(spark):
    """RunResult.metrics (the one-action bench path) must agree exactly
    with the multi-action ground truth: total/error/warning violation
    counts over the merged stream and the failing-row-rule-partition
    count from partition_verdicts."""
    from pyspark.sql import functions as F

    docs = synth_documents(spark, N_DOCS)
    cat = synth_media_catalog(spark)
    res = validate_run(
        spark, docs, corpus_ruleset(), media_catalog=cat, repartition_to=8,
    )
    m = res.metrics.collect()[0]
    assert m["n_violations"] == res.violations.count()
    sev = dict(res.violations.groupBy("severity").count().collect())
    assert m["n_errors"] == sev.get("error", 0)
    assert m["n_warnings"] == sev.get("warning", 0)
    n_fail = res.partition_verdicts.filter(F.col("result") == "FAILURE").count()
    assert m["n_failing_partitions"] == n_fail


def test_run_metrics_clean_corpus_zero_counters(spark):
    """A violation-free corpus reports 0 counters, not NULL (F.sum over
    an empty stream is NULL without the coalesce)."""
    from json_validator_spark.rules.model import Rule, RuleSet

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, s string")
    rs = RuleSet(rules=(Rule("req.s", "/s", "required"),))
    m = validate_run(spark, docs, rs, check_uniqueness=False).metrics.collect()[0]
    assert (m["n_violations"], m["n_errors"], m["n_warnings"], m["n_failing_partitions"]) == (0, 0, 0, 0)


def test_report_frames_built_on_first_use(spark, monkeypatch):
    """A caller that reads only `metrics` builds none of the report
    frames; a report frame is built once, on first access, and kept."""
    from json_validator_spark.operators import report as rpt

    builders = ("doc_verdicts", "partition_verdicts", "aggregate_report", "doc_verdicts_merged")
    calls = dict.fromkeys(builders, 0)

    def counted(name):
        real = getattr(rpt, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)

        return wrapper

    for name in builders:
        monkeypatch.setattr(rpt, name, counted(name))
    res = validate_run(
        spark, synth_documents(spark, 200), corpus_ruleset(),
        media_catalog=synth_media_catalog(spark),
    )
    assert res.metrics.columns[0] == "n_violations"
    assert all(n == 0 for n in calls.values()), calls
    assert res.aggregate is res.aggregate
    assert res.doc_verdicts_merged is res.doc_verdicts_merged
    assert calls == {**dict.fromkeys(builders, 0), "aggregate_report": 1, "doc_verdicts_merged": 1}


def test_validate_run_build_round_trip_budget(spark):
    """Building the flagship plan stays within 2,600 py4j commands. It
    took 4,341 on this input with DataFrame-debugging call-site capture on
    and every report frame built eagerly, and 1,381 with both off. Counted on
    the building thread only: py4j's finalizer thread sends object-release
    commands whenever Python's GC runs, so those are not a property of the
    build."""
    import threading

    from py4j.clientserver import ClientServerConnection

    docs = synth_documents(spark, N_DOCS)
    cat = synth_media_catalog(spark)
    rs = corpus_ruleset()
    builder = threading.get_ident()
    sent = [0]
    real = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == builder:
            sent[0] += 1
        return real(self, command)

    ClientServerConnection.send_command = counting
    try:
        validate_run(spark, docs, rs, media_catalog=cat)
    finally:
        ClientServerConnection.send_command = real
    assert 0 < sent[0] <= 2600, sent[0]


def test_analysis_error_raises_without_call_site_capture(spark):
    """With call-site capture off (session default), a malformed plugin
    frame still fails analysis, naming the missing column."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    bad = spark.createDataFrame(
        [("doc-000001", "/", "error", "no rule id")],
        "doc_id string, span_path string, severity string, message string",
    )
    with pytest.raises(AnalysisException, match="rule_id"):
        validate_run(
            spark, synth_documents(spark, 50), corpus_ruleset(), extra_violations=[bad]
        )


def test_determinism_across_parallelism(spark):
    """Same violation set regardless of partitioning — the N-vs-4N gate."""
    docs = synth_documents(spark, N_DOCS)
    rs = corpus_ruleset()
    r2 = validate_run(spark, docs.repartition(2), rs)
    r16 = validate_run(spark, docs.repartition(16), rs)
    assert _viol_set(r2) == _viol_set(r16)


def test_span_sequence_invariant(spark):
    """The per-row invariant from BASELINE.json: (kind, text, media_ref,
    order) unchanged by pipeline stages — incl. the salted repartition."""
    docs = synth_documents(spark, 500)
    before = {r["doc_id"]: r["span_sig"] for r in span_signature(docs).collect()}
    after_df = salted_repartition(docs, 16)
    after = {r["doc_id"]: r["span_sig"] for r in span_signature(after_df).collect()}
    assert before == after


def test_checkpoint_resume_identity(spark, tmp_path):
    """Fresh full run == crash-after-half + resume (SURVEY §5.2.5)."""
    docs = synth_documents(spark, 800)
    rs = corpus_ruleset()
    run_id = str(uuid.uuid4())

    fresh = validate_run(spark, docs, rs, check_uniqueness=True)
    fresh_set = _viol_set(fresh)

    ck = str(tmp_path / "ckpt")
    first = run_with_checkpoint(
        spark, docs, rs, ck, run_id, n_buckets=8, max_buckets_this_call=3
    )
    assert len(first) == 3
    second = run_with_checkpoint(spark, docs, rs, ck, run_id, n_buckets=8)
    assert len(second) == 5
    third = run_with_checkpoint(spark, docs, rs, ck, run_id, n_buckets=8)
    assert third == []  # nothing pending

    resumed_set = {tuple(r) for r in read_violations(spark, ck).collect()}
    assert resumed_set == fresh_set


def test_row_rules_plan_is_narrow(spark, tmp_path):
    """The row-rule layer must stay a single narrow scan→project: no
    Exchange (shuffle), no Python eval in the plan — the property that
    makes it scan-bound at 100 TB."""
    from json_validator_spark.operators.row_checks import violations_df

    path = str(tmp_path / "docs")
    synth_documents(spark, 200).write.parquet(path)
    v = violations_df(spark.read.parquet(path), corpus_ruleset())
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "Scan parquet" in plan


def test_uniqueness_plan_partial_agg(spark, tmp_path):
    """Uniqueness groupBy must show map-side partial aggregation and a
    column-pruned scan (only the key column read)."""
    from json_validator_spark.operators.set_checks import uniqueness_violations

    path = str(tmp_path / "docs2")
    synth_documents(spark, 200).write.parquet(path)
    v = uniqueness_violations(spark.read.parquet(path), key="doc_id")
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_checkpoint_rule_metrics(spark, tmp_path):
    """Rule-level metrics per bucket survive resume and roll up to the
    same aggregate as the violations themselves."""
    from json_validator_spark.operators.report import aggregate_report
    from json_validator_spark.plans.checkpoint import read_rule_metrics

    docs = synth_documents(spark, 600)
    rs = corpus_ruleset()
    ck = str(tmp_path / "ckpt_m")
    run_id = str(uuid.uuid4())
    run_with_checkpoint(spark, docs, rs, ck, run_id, n_buckets=4, max_buckets_this_call=2)
    run_with_checkpoint(spark, docs, rs, ck, run_id, n_buckets=4)

    metrics = read_rule_metrics(spark, ck)
    rollup = {
        (r["rule_id"], r["severity"]): r["total"]
        for r in metrics.groupBy("rule_id", "severity")
        .agg(F.sum("count").alias("total")).collect()
    }
    expected = {
        (r["rule_id"], r["severity"]): r["count"]
        for r in aggregate_report(read_violations(spark, ck)).collect()
    }
    assert rollup == expected and len(rollup) > 0


def test_property_determinism_arbitrary_docs(spark):
    """Property (hypothesis): for ARBITRARY span documents — any kinds,
    texts, offsets, nulls — the violation set is invariant under
    repartitioning. Complements the fixed-corpus determinism test."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    kind = st.one_of(st.none(), st.sampled_from(["text", "media", "imge", ""]))
    txt = st.one_of(st.none(), st.text(alphabet="ab :/1", max_size=8))
    ref = st.one_of(st.none(), st.sampled_from(["media://x", "media:/bad", "media://123e4567-e89b-12d3-a456-426614174000"]))
    off = st.one_of(st.none(), st.integers(min_value=-5, max_value=50))
    span = st.tuples(kind, txt, ref, off)
    doc = st.tuples(st.text(alphabet="dx19-", min_size=1, max_size=12), st.lists(span, max_size=5))
    collected: list = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(doc, min_size=0, max_size=6))
    def collect(batch):
        collected.extend(batch)

    collect()
    if not collected:
        return
    from json_validator_spark.operators.row_checks import violations_df

    df = spark.createDataFrame(
        collected,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rs = corpus_ruleset()
    v1 = {tuple(r) for r in violations_df(df.repartition(1), rs).collect()}
    v8 = {tuple(r) for r in violations_df(df.repartition(8), rs).collect()}
    assert v1 == v8


def test_top_violations_truncation(spark):
    """Report truncation contract (ValidationRunner.java:163-176): the
    export caps at k rows ordered by frequency; the full rollup retains
    every rule."""
    from json_validator_spark.operators.report import aggregate_report, top_violations
    from json_validator_spark.rules.model import Rule, RuleSet
    from json_validator_spark.operators.row_checks import violations_df

    docs = synth_documents(spark, 800)
    rs = corpus_ruleset()
    viols = violations_df(docs, rs)
    full = aggregate_report(viols).collect()
    assert len(full) > 2  # several distinct rules fire on the synth corpus
    top = top_violations(viols, k=2).collect()
    assert len(top) == 2
    counts = [r["count"] for r in top]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] == max(r["count"] for r in full)


def test_validate_run_plugin_hook(spark):
    """Plugin fan-out (JSONValidator.java:193-219): external providers'
    violation frames merge into the run's violations AND aggregate."""
    docs = synth_documents(spark, 200)
    plugin = spark.createDataFrame(
        [("doc-000001", "/", "plugin.custom", "error", "plugin says no")],
        "doc_id string, span_path string, rule_id string, severity string, message string",
    )
    res = validate_run(spark, docs, corpus_ruleset(), extra_violations=[plugin])
    v = res.violations.filter(F.col("rule_id") == "plugin.custom").collect()
    assert len(v) == 1 and v[0]["message"] == "plugin says no"
    agg = {r["rule_id"]: r["count"] for r in res.aggregate.collect()}
    assert agg.get("plugin.custom") == 1


def test_checkpoint_read_missing_vs_corrupt(spark, tmp_path):
    """Missing/empty checkpoint reads as empty; a corrupt file in a
    COMMITTED bucket raises instead of silently reporting success
    (ADVICE r01). A corrupt file in an UNCOMMITTED bucket is invisible
    by snapshot isolation - that is correct, not a swallowed error."""
    import pytest as _pytest

    assert read_violations(spark, str(tmp_path / "nope")).count() == 0
    bad = tmp_path / "ck" / "violations" / "bucket=3"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    # uncommitted: isolation hides the torn/corrupt bucket
    assert read_violations(spark, str(tmp_path / "ck")).count() == 0
    # committed: the corruption must surface
    spark.createDataFrame(
        [("r", 3, "done", 1, 1, 0.0)],
        "run_id string, bucket int, status string, n_docs long, n_errors long, ts double",
    ).write.mode("append").parquet(str(tmp_path / "ck" / "lineage"))
    with _pytest.raises(Exception):
        read_violations(spark, str(tmp_path / "ck")).count()


def test_checkpoint_bucket_partition_pruning(spark, tmp_path):
    """Resume-time reads of one bucket's violations must prune to that
    bucket's partition directory (PartitionFilters in the scan), not
    scan the whole checkpoint — the property that makes bucket-level
    redo O(bucket), not O(run)."""
    from json_validator_spark.plans.checkpoint import VIOLATIONS_SCHEMA

    docs = synth_documents(spark, 400)
    ckpt = str(tmp_path / "ck")
    run_with_checkpoint(spark, docs, corpus_ruleset(), ckpt, run_id="r", n_buckets=8)
    one = (
        spark.read.schema(VIOLATIONS_SCHEMA)
        .parquet(f"{ckpt}/violations")
        .filter(F.col("bucket") == 3)
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)
    assert one.count() > 0


def test_doc_verdicts_merged_counts_all_sources(spark):
    """doc_verdicts_merged reflects uniqueness + plugin violations, not
    just row rules — the reference's merged-TAR counter semantics."""
    docs = synth_documents(spark, 300)
    dup = docs.filter(F.col("doc_id") == "doc-000000000005")
    docs_with_dup = docs.unionByName(dup)
    plugin = spark.createDataFrame(
        [("doc-000000000007", "/", "plugin.x", "error", "m")],
        "doc_id string, span_path string, rule_id string, severity string, message string",
    )
    res = validate_run(
        spark, docs_with_dup, corpus_ruleset(), extra_violations=[plugin]
    )
    merged = {r["doc_id"]: r for r in res.doc_verdicts_merged.collect()}
    plain = {r["doc_id"]: r for r in res.doc_verdicts.collect()}
    # the duplicated doc fails in merged (unique.doc_id) regardless of row rules
    assert merged["doc-000000000005"]["result"] == "FAILURE"
    # the plugin-flagged doc gains exactly one extra error vs the row-rule verdict
    assert (
        merged["doc-000000000007"]["n_errors"]
        == plain["doc-000000000007"]["n_errors"] + 1
    )
    # clean docs still appear with SUCCESS
    successes = [r for r in merged.values() if r["result"] == "SUCCESS"]
    assert successes


def test_checkpoint_plugin_violations_bucketed(spark, tmp_path):
    """Plugin violations participate in the bucket protocol: they land
    exactly once across a crash-resume sequence, in their doc's bucket."""
    docs = synth_documents(spark, 300)
    plugin = spark.createDataFrame(
        [("doc-000000000003", "/", "plugin.x", "error", "m"),
         ("doc-000000000011", "/", "plugin.x", "error", "m")],
        "doc_id string, span_path string, rule_id string, severity string, message string",
    )
    ck = str(tmp_path / "ckp")
    # crash after 3 buckets, then resume the rest
    run_with_checkpoint(
        spark, docs, corpus_ruleset(), ck, run_id="r", n_buckets=8,
        max_buckets_this_call=3, extra_violations=[plugin],
    )
    run_with_checkpoint(
        spark, docs, corpus_ruleset(), ck, run_id="r", n_buckets=8,
        extra_violations=[plugin],
    )
    got = read_violations(spark, ck).filter(F.col("rule_id") == "plugin.x").collect()
    assert sorted(r["doc_id"] for r in got) == [
        "doc-000000000003", "doc-000000000011",
    ]


def test_tar_reports_shape(spark):
    """Per-doc TAR rows: result/counters from the verdict, ordered report
    items nested per doc, clean docs with empty report arrays."""
    from json_validator_spark.operators.report import tar_reports

    docs = synth_documents(spark, 200)
    res = validate_run(spark, docs, corpus_ruleset())
    tar = tar_reports(res.doc_verdicts_merged, res.violations).collect()
    assert len(tar) == 200
    by_id = {r["doc_id"]: r for r in tar}
    for r in tar:
        n_err_items = sum(1 for i in r["reports"] if i["severity"] == "error")
        assert n_err_items == r["counters"]["nrOfErrors"]
        assert (r["result"] == "SUCCESS") == (r["counters"]["nrOfErrors"] == 0)
        locs = [(i["location"], i["rule_id"]) for i in r["reports"]]
        assert locs == sorted(locs)  # ReportItemComparator ordering
    assert any(not r["reports"] for r in tar) and any(r["reports"] for r in tar)


def test_aqe_skew_join_splits_hot_key(spark):
    """AQE splits the skewed partition of a deliberately hot-keyed join
    (session.py enables skewJoin) — the runtime half of the skew story;
    the final adaptive plan marks the sort-merge join skew=true."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(0, 200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(0, 200).select(
            (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionByName(tail)
        right = spark.range(0, 51).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        joined = left.join(right, "k")
        # execute THIS DataFrame (count() builds its own plan instance;
        # the adaptive final plan lives on the executed queryExecution)
        assert len(joined.collect()) == 200_200
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_salted_repartition_balances_media_heavy_docs(spark):
    """The deterministic salt spreads the 1% media-heavy documents:
    after salted_repartition no partition holds more than ~3x the mean
    span count, while sorting heavy docs together (the adversarial
    input-file layout) leaves >5x imbalance."""
    docs = synth_documents(spark, 4000)
    sizes = docs.select(F.size("spans").alias("n"), F.col("doc_id"))
    # adversarial layout: heavy docs clustered (sorted by size, ranged)
    clustered = sizes.orderBy("n").repartitionByRange(16, "n")
    salted = salted_repartition(sizes, 16)

    def per_partition_span_load(df):
        rows = (
            df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum("n").alias("load"))
            .collect()
        )
        loads = [r["load"] for r in rows]
        return max(loads) / (sum(loads) / len(loads))

    assert per_partition_span_load(clustered) > 5.0
    assert per_partition_span_load(salted) < 3.0


def test_checkpoint_torn_write_invisible_to_readers(spark, tmp_path):
    """Snapshot isolation at the bucket level: data written WITHOUT its
    lineage row (a crash between the two) is invisible to readers, and
    becomes visible only once the bucket commits via lineage."""
    from json_validator_spark.plans.checkpoint import VIOLATIONS_SCHEMA

    docs = synth_documents(spark, 300)
    ck = str(tmp_path / "ckpt")
    run_with_checkpoint(spark, docs, corpus_ruleset(), ck, run_id="r", n_buckets=8)
    committed = read_violations(spark, ck).count()
    assert committed > 0

    # simulate a torn write: a bucket dir with data but NO lineage row
    torn = spark.createDataFrame(
        [("ghost", "/x", "ghost.rule", "error", "m", 99)], VIOLATIONS_SCHEMA
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    torn.write.mode("overwrite").partitionBy("bucket").parquet(f"{ck}/violations")
    assert read_violations(spark, ck).filter("rule_id = 'ghost.rule'").count() == 0
    assert read_violations(spark, ck).count() == committed

    # committing bucket 99 in lineage makes it visible
    spark.createDataFrame(
        [("r", 99, "done", 1, 1, 0.0)],
        "run_id string, bucket int, status string, n_docs long, n_errors long, ts double",
    ).write.mode("append").parquet(f"{ck}/lineage")
    assert read_violations(spark, ck).filter("rule_id = 'ghost.rule'").count() == 1


def test_checkpoint_bigint_doc_ids_bucket_consistency(spark, tmp_path):
    """Native bigint doc_ids: the bucket a doc's violations land in must
    match the bucket its pending-selection used (regression: native-vs-
    string hashing mismatch scattered rows into the wrong partitions)."""
    docs = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"src{i % 3}") for i in range(200)],
        "doc_id long, source string",
    )
    from json_validator_spark.rules.model import Rule, RuleSet
    rs = RuleSet(rules=(Rule("req.source", "/source", "required"),))
    ck = str(tmp_path / "ckb")
    # two crash-resume calls: cross-call bucket routing must agree
    run_with_checkpoint(spark, docs, rs, ck, run_id="r", n_buckets=8,
                        max_buckets_this_call=4)
    run_with_checkpoint(spark, docs, rs, ck, run_id="r", n_buckets=8)
    got = {r["doc_id"] for r in read_violations(spark, ck)
           .filter("rule_id = 'req.source'").collect()}
    assert got == {str(i) for i in range(0, 200, 5)}


def test_checkpoint_dir_reuse_no_stale_rows(spark, tmp_path):
    """Re-using a checkpoint dir for a different run/corpus must not
    leak the previous run's rows (regression: dynamic overwrite never
    clears a bucket whose redo emits zero rows)."""
    from json_validator_spark.rules.model import Rule, RuleSet
    rs = RuleSet(rules=(Rule("req.s", "/s", "required"),))
    dirty = spark.createDataFrame([(i, None) for i in range(50)], "doc_id long, s string")
    clean = spark.createDataFrame([(i, "ok") for i in range(50)], "doc_id long, s string")
    ck = str(tmp_path / "ckr")
    run_with_checkpoint(spark, dirty, rs, ck, run_id="a", n_buckets=4)
    assert read_violations(spark, ck).count() == 50
    run_with_checkpoint(spark, clean, rs, ck, run_id="b", n_buckets=4)
    assert read_violations(spark, ck).count() == 0  # no stale run-a rows


def test_tar_xml_golden(tmp_path, spark):
    """GITB TAR XML wire shape (FileManager.java:100-139 naming,
    JSONValidator.java:443-465 population) — golden-file comparison of
    one FAILURE and one SUCCESS document."""
    from json_validator_spark.operators.report import (
        tar_reports_from_violations,
        write_tar_xml_reports,
    )

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    viols = spark.createDataFrame(
        [
            (1, "/name", "name.required", "error", "required value is missing"),
            (1, "/n", "n.maximum", "warning", "constraint 'maximum' violated"),
        ],
        "doc_id long, span_path string, rule_id string, severity string, message string",
    )
    tar = tar_reports_from_violations(docs, viols)
    paths = write_tar_xml_reports(
        tar, str(tmp_path / "xml"), date="2026-08-18T00:00:00+00:00"
    )
    assert [p.rsplit("/", 1)[1] for p in paths] == ["TAR-1.xml", "TAR-2.xml"]
    expected_1 = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<TAR xmlns="http://www.gitb.com/tr/v1/" xmlns:ns2="http://www.gitb.com/core/v1/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
    <date>2026-08-18T00:00:00+00:00</date>
    <result>FAILURE</result>
    <counters>
        <nrOfAssertions>0</nrOfAssertions>
        <nrOfErrors>1</nrOfErrors>
        <nrOfWarnings>1</nrOfWarnings>
    </counters>
    <reports>
        <warning xsi:type="BAR">
            <description>constraint 'maximum' violated</description>
            <location>/n</location>
        </warning>
        <error xsi:type="BAR">
            <description>required value is missing</description>
            <location>/name</location>
        </error>
    </reports>
</TAR>
"""
    expected_2 = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<TAR xmlns="http://www.gitb.com/tr/v1/" xmlns:ns2="http://www.gitb.com/core/v1/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
    <date>2026-08-18T00:00:00+00:00</date>
    <result>SUCCESS</result>
    <counters>
        <nrOfAssertions>0</nrOfAssertions>
        <nrOfErrors>0</nrOfErrors>
        <nrOfWarnings>0</nrOfWarnings>
    </counters>
    <reports>
    </reports>
</TAR>
"""
    assert (tmp_path / "xml" / "TAR-1.xml").read_text() == expected_1
    assert (tmp_path / "xml" / "TAR-2.xml").read_text() == expected_2


def test_tar_xml_escaping_and_truncation(tmp_path, spark):
    from json_validator_spark.operators.report import (
        tar_reports_from_violations,
        write_tar_xml_reports,
    )

    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    viols = spark.createDataFrame(
        [(0, "/a<b>", "r&1", "error", 'needs <escaping> & "quotes"')],
        "doc_id long, span_path string, rule_id string, severity string, message string",
    )
    paths = write_tar_xml_reports(
        tar_reports_from_violations(docs, viols), str(tmp_path / "x"), max_docs=2
    )
    assert len(paths) == 2  # truncated sink, full report stays in tables
    xml = (tmp_path / "x" / "TAR-0.xml").read_text()
    assert "needs &lt;escaping&gt; &amp; \"quotes\"" in xml
    assert "<location>/a&lt;b&gt;</location>" in xml


def test_cli_format_xml(tmp_path, spark):
    import json

    from json_validator_spark.cli import main

    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "name": "alice"}\n{"doc_id": 2}\n'
    )
    (tmp_path / "schema.json").write_text(json.dumps({
        "type": "object", "required": ["name"],
        "properties": {"name": {"minLength": 2}},
    }))
    out = str(tmp_path / "out")
    rc = main([
        "validate", "--input", str(tmp_path / "docs.jsonl"), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, name string",
        "--schema", str(tmp_path / "schema.json"),
        "--format", "xml", "--xml-max", "10",
    ])
    assert rc == 0
    import pathlib

    files = sorted(p.name for p in pathlib.Path(f"{out}/xml").glob("TAR-*.xml"))
    assert files == ["TAR-1.xml", "TAR-2.xml", "TAR-aggregate.xml"]
    agg = pathlib.Path(f"{out}/xml/TAR-aggregate.xml").read_text()
    assert "(1x) required value is missing" in agg
    x2 = pathlib.Path(f"{out}/xml/TAR-2.xml").read_text()
    assert "<result>FAILURE</result>" in x2
    assert "<location>/name</location>" in x2
    assert "<date>" in x2


def test_tar_xml_aggregate_golden(tmp_path, spark):
    """Run-level aggregate TAR (AggregateReportItems keying,
    JSONValidator.java:466-481: severity + location-stripped message,
    counted) as one golden XML file."""
    from json_validator_spark.operators.report import write_tar_xml_aggregate

    viols = spark.createDataFrame(
        [
            (1, "/name", "name.required", "error", "[/name] required value is missing"),
            (2, "/name", "name.required", "error", "[/name] required value is missing"),
            (2, "/n", "n.maximum", "warning", "[/n] constraint 'maximum' violated"),
        ],
        "doc_id long, span_path string, rule_id string, severity string, message string",
    )
    path = write_tar_xml_aggregate(
        viols, str(tmp_path / "TAR-aggregate.xml"), date="2026-08-18T00:00:00+00:00"
    )
    expected = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<TAR xmlns="http://www.gitb.com/tr/v1/" xmlns:ns2="http://www.gitb.com/core/v1/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
    <date>2026-08-18T00:00:00+00:00</date>
    <result>FAILURE</result>
    <counters>
        <nrOfAssertions>0</nrOfAssertions>
        <nrOfErrors>2</nrOfErrors>
        <nrOfWarnings>1</nrOfWarnings>
    </counters>
    <reports>
        <error xsi:type="BAR">
            <description>(2x) required value is missing</description>
        </error>
        <warning xsi:type="BAR">
            <description>(1x) constraint 'maximum' violated</description>
        </warning>
    </reports>
</TAR>
"""
    import pathlib

    assert pathlib.Path(path).read_text() == expected


def test_cli_format_csv(tmp_path, spark):
    import json
    import pathlib

    from json_validator_spark.cli import main

    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "name": "alice"}\n{"doc_id": 2}\n'
    )
    (tmp_path / "schema.json").write_text(json.dumps({
        "type": "object", "required": ["name"],
        "properties": {"name": {"minLength": 2}},
    }))
    out = str(tmp_path / "out")
    rc = main([
        "validate", "--input", str(tmp_path / "docs.jsonl"), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, name string",
        "--schema", str(tmp_path / "schema.json"), "--format", "csv",
    ])
    assert rc == 0
    csv_text = "".join(
        p.read_text() for p in pathlib.Path(f"{out}/csv").glob("*.csv")
    )
    assert "doc_id,span_path,rule_id,severity,message" in csv_text
    assert "2,/name,name.required,error" in csv_text


def _pdf_check_structure(data: bytes) -> list[bytes]:
    """Minimal conforming-reader check: header, xref offsets that land
    exactly on their objects, startxref pointing at the xref table,
    trailing %%EOF. Returns the decoded content streams."""
    import re

    assert data.startswith(b"%PDF-1.4\n")
    assert data.rstrip().endswith(b"%%EOF")
    start = int(re.search(rb"startxref\n(\d+)\n%%EOF", data).group(1))
    assert data[start : start + 4] == b"xref"
    offsets = [
        int(m.group(1))
        for m in re.finditer(rb"(\d{10}) 00000 n", data[start:])
    ]
    for i, off in enumerate(offsets, start=1):
        assert data[off:].startswith(b"%d 0 obj" % i), f"object {i} offset wrong"
    return re.findall(rb"stream\n(.*?)\nendstream", data, flags=re.S)


def test_tar_pdf_reports(tmp_path, spark):
    """PDF report sink (report.X.pdf / TAR-<uuid>.pdf,
    ValidationRunner.java:164-171, naming FileManager.java:94-102):
    structurally valid, byte-deterministic, carries the report content,
    and paginates."""
    from json_validator_spark.operators.report import (
        tar_pdf,
        tar_reports_from_violations,
        write_tar_pdf_reports,
    )

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    viols = spark.createDataFrame(
        [
            (1, "/name", "name.required", "error", "required (value) is missing"),
            (1, "/n", "n.maximum", "warning", "constraint 'maximum' violated"),
        ],
        "doc_id long, span_path string, rule_id string, severity string, message string",
    )
    tar = tar_reports_from_violations(docs, viols)
    paths = write_tar_pdf_reports(
        tar, str(tmp_path / "pdf"), date="2026-08-18T00:00:00+00:00"
    )
    assert [p.rsplit("/", 1)[1] for p in paths] == ["TAR-1.pdf", "TAR-2.pdf"]
    data = (tmp_path / "pdf" / "TAR-1.pdf").read_bytes()
    streams = _pdf_check_structure(data)
    text = b"\n".join(streams)
    assert b"(Validation report - document 1) Tj" in text
    assert b"(Result: FAILURE) Tj" in text
    assert rb"(required \(value\) is missing) Tj" in text  # escaped parens
    assert b"([WARNING] /n) Tj" in text
    assert b"(Errors: 1    Warnings: 1    Assertions: 0) Tj" in text
    ok = (tmp_path / "pdf" / "TAR-2.pdf").read_bytes()
    assert b"(Result: SUCCESS) Tj" in b"\n".join(_pdf_check_structure(ok))
    # byte-determinism: same row, same bytes
    rows = {r["doc_id"]: r for r in tar.collect()}
    assert tar_pdf(rows["1"], date="2026-08-18T00:00:00+00:00") == data
    # pagination: enough items to spill past one page -> multiple Page objects
    many = tar_reports_from_violations(
        spark.createDataFrame([(9,)], "doc_id long"),
        spark.createDataFrame(
            [(9, f"/f{i:03d}", f"r{i:03d}", "error", f"message {i}") for i in range(40)],
            "doc_id long, span_path string, rule_id string, severity string, message string",
        ),
    )
    big = tar_pdf(many.collect()[0])
    _pdf_check_structure(big)
    assert big.count(b"/Type /Page /Parent") >= 3  # 40 items * 3 lines / 46


def test_tar_pdf_detailed_output_gate(tmp_path, spark):
    """The reference skips PDF when a report's item count exceeds
    maximumReportsForDetailedOutput (ValidationRunner.java:163-176) —
    the sink honors the same gate; XML/tables still carry the doc."""
    from json_validator_spark.operators.report import (
        tar_reports_from_violations,
        write_tar_pdf_reports,
    )

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    viols = spark.createDataFrame(
        [(1, f"/f{i}", f"r{i}", "error", "m") for i in range(10)]
        + [(2, "/g", "rg", "error", "m")],
        "doc_id long, span_path string, rule_id string, severity string, message string",
    )
    paths = write_tar_pdf_reports(
        tar_reports_from_violations(docs, viols),
        str(tmp_path / "pdf"),
        max_items_for_detailed=5,
    )
    assert [p.rsplit("/", 1)[1] for p in paths] == ["TAR-2.pdf"]  # doc 1 gated


def test_cli_format_pdf(tmp_path, spark):
    import json
    import pathlib

    from json_validator_spark.cli import main

    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "name": "alice"}\n{"doc_id": 2}\n'
    )
    (tmp_path / "schema.json").write_text(json.dumps({
        "type": "object", "required": ["name"],
        "properties": {"name": {"minLength": 2}},
    }))
    out = str(tmp_path / "out")
    rc = main([
        "validate", "--input", str(tmp_path / "docs.jsonl"), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, name string",
        "--schema", str(tmp_path / "schema.json"),
        "--format", "pdf", "--xml-max", "10",
    ])
    assert rc == 0
    files = sorted(p.name for p in pathlib.Path(f"{out}/pdf").glob("TAR-*.pdf"))
    assert files == ["TAR-1.pdf", "TAR-2.pdf", "TAR-aggregate.pdf"]
    agg = pathlib.Path(f"{out}/pdf/TAR-aggregate.pdf").read_bytes()
    streams = _pdf_check_structure(agg)
    text = b"\n".join(streams)
    assert b"(Result: FAILURE) Tj" in text
    assert b"required value is missing) Tj" in text


def test_session_factory_automatic_shuffle_sizing(spark, tmp_path):
    """The r5 automatic-sizing contract (BENCH.md round 5), data-
    proportional form: the factory keeps Spark's 1 MB coalesce floor
    (a session-wide 64k floor fragmented validation's byte-dense reduce
    stages — 1M-doc flagship A/B, session.py note) and the 64 MB
    advisory; the WIDE START is sized per input by
    ``session.size_shuffle_for`` — ``max(base, input_bytes/advisory)``
    — so a bench-scale corpus keeps the base width (zero overhead)
    while a grown corpus starts proportionally wider (a blanket 8x
    start measured 15-35% slower on the 16M-doc flagship at 32 cores).
    Shingle pipelines scope their 64k floor per call via
    ``min_partition_size`` (doc_shingles)."""
    from json_validator_spark.session import size_shuffle_for

    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1m"
    assert spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes") == "64m"
    # Huge-method JIT: the codegen'd rule projection exceeds HotSpot's
    # 8000-bytecode DontCompileHugeMethods limit and would run
    # INTERPRETED (36.6 s vs 50.6 s on the 16M flagship at 32 cores) —
    # the factory lifts the limit on driver and executors alike.
    for k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        assert "-XX:-DontCompileHugeMethods" in spark.conf.get(k)

    path = str(tmp_path / "sized")
    spark.range(0, 50_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)

    # small input at the real 64 MB advisory → stays at the base width
    assert size_shuffle_for(spark, df) == base
    assert int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")) == base

    # same input with a tiny advisory emulates corpus >> advisory×base:
    # the wide start scales with bytes (and is what AQE then coalesces)
    total = sum(
        f.stat().st_size
        for f in __import__("pathlib").Path(path).glob("*.parquet")
    )
    advisory = 4096
    expect = max(base, total // advisory)
    assert size_shuffle_for(spark, df, advisory_bytes=advisory) == expect
    assert int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")) == expect

    # frames with no file inputs (synthetic) keep the base width
    assert size_shuffle_for(spark, spark.range(10).toDF("id")) == base
    # the cap bounds the width for any corpus size
    assert size_shuffle_for(spark, df, advisory_bytes=1, cap=97) == 97
    # per-pipeline floor scoping: a shingle-style call sets 64k, the
    # next default call restores the 1 MB validation floor
    size_shuffle_for(spark, df, min_partition_size="64k")
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k"
    # leave the shared session at the base width for later tests
    assert size_shuffle_for(spark, df) == base
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1m"


def test_horizontal_partition_union_equals_full_run(spark):
    """The executor-scaling layout invariant (tools/executor_scaling.py):
    splitting the corpus into hash-disjoint shards on xxhash64(doc_id)
    and validating each shard independently must yield EXACTLY the full
    run's violation multiset — uniqueness and referential included,
    because equal doc_ids co-locate under the hash split (the same
    shuffle layout a 4-executor cluster gives each executor). This is
    the correctness half of the N-vs-4N executor evidence."""
    docs = synth_documents(spark, N_DOCS)
    cat = synth_media_catalog(spark)
    full = validate_run(spark, docs, corpus_ruleset(), media_catalog=cat)
    full_set = _viol_set(full)
    assert len(full_set) > 0
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4))
    shard_union: set = set()
    shard_sizes = []
    for i in range(4):
        shard = docs.filter(bucket == i)
        res = validate_run(spark, shard, corpus_ruleset(), media_catalog=cat)
        viols = _viol_set(res)
        shard_sizes.append(len(viols))
        assert shard_union.isdisjoint(viols)  # hash shards share no doc
        shard_union |= viols
    assert all(n > 0 for n in shard_sizes)  # every shard exercises rules
    # the synthetic corpus plants cross-file duplicate doc_ids; the split
    # must keep each duplicate group in ONE shard for this to hold
    assert {v[2] for v in full_set} == {v[2] for v in shard_union}
    assert shard_union == full_set
