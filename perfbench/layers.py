"""Traced run: each layer's public function called in isolation inside
its own span, on the workload's own table.  Layer names follow the
program's modules; perfbench/LAYERS.md maps each metric to the
end-to-end metric and workload it should move."""

from __future__ import annotations

import os
import shutil

import gen
import oracle

#: conversations in the near-duplicate corpus of the ``clean`` layer
CLEAN_CONVS = 10_000

#: layers whose isolated times add up to one headline call
PIPELINE_PARTS = ("sink.write", "sink.rollup", "validation.partition_summary",
                  "stats", "drift")


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def run_layers(w, tracer, problems: list[str]) -> dict[str, float]:
    """Call every layer once under ``tracer``, each in a span named
    after it (parts of a layer in child spans ``<layer>.<part>``);
    returns the layer counts (times come from the spans)."""
    from pyspark.sql import functions as F

    from cerberus_spark import pipeline
    from cerberus_spark.checks.referential import referential_violations
    from cerberus_spark.checks.uniqueness import uniqueness_violations
    from cerberus_spark.pipeline import materialize
    from cerberus_spark.sources.catalog import tool_catalog
    from cerberus_spark.validation import validate

    spark, df, span = w.spark, w.df, tracer.span
    counts: dict[str, float] = {}

    res = validate(df, pipeline.TRANSCRIPT_RULES, key_cols=pipeline.KEY_COLS)
    with span("validation"):
        with span("validation.violations"):
            materialize(res.violations())
        with span("validation.partition_summary"):
            parts = res.partition_summary().select("n_fail").collect()
    counts["validation.rows_failed"] = sum(r.n_fail for r in parts)

    with span("sequence"):
        materialize(pipeline.sequence_violation_rows(df))
    with span("uniqueness"):
        materialize(uniqueness_violations(df, pipeline.KEY_COLS))
    with span("referential"):
        materialize(referential_violations(
            df, "tool", tool_catalog(spark), "tool", pipeline.KEY_COLS))
    with span("stats"):
        materialize(pipeline.transcript_stats(df))
    with span("drift"):
        materialize(pipeline.drift_reports(df))

    sink = os.path.join(w.work, "layer_sink")
    with span("sink"):
        with span("sink.write"):
            pipeline.all_violations(spark, df, sequence_checks=True) \
                .write.mode("overwrite").parquet(sink)
        with span("sink.rollup"):
            sunk = spark.read.parquet(sink)
            materialize(sunk.groupBy("field", "rule").agg(F.count(F.lit(1))))
            materialize(pipeline.conversation_health_from_violations(df, sunk))
    counts["sink.rows"] = sum(oracle.sink_rule_counts(sink).values())
    counts["sink.mb"] = _dir_mb(sink)

    counts.update(_checkpoint(w, span, problems))
    counts.update(_clean(w, span, problems))
    return counts


def _checkpoint(w, span, problems: list[str]) -> dict[str, float]:
    """The resume path's own steps: list units and anti-join the audit
    log, then re-validate the pending files and record them."""
    from pyspark.sql import functions as F

    from cerberus_spark import pipeline
    from cerberus_spark.plans.checkpoint import AuditLog, input_units, normalize_unit
    from cerberus_spark.validation import validate

    if not os.path.isdir(w.audit_clean):
        w.build_audit()
    w.restore_audit()
    audit = AuditLog(w.spark, w.audit)
    with span("checkpoint"):
        with span("checkpoint.pending"):
            todo = audit.pending(input_units(w.data, w.spark)).collect()
        with span("checkpoint.record"):
            tagged = w.df.withColumn("_file", F.input_file_name()).withColumn(
                "_unit", normalize_unit(F.col("_file")))
            units = w.spark.createDataFrame([(r.unit,) for r in todo], "_unit string")
            pending = tagged.join(F.broadcast(units), "_unit", "left_semi")
            res = validate(pending, pipeline.TRANSCRIPT_RULES)
            per_file = (
                res.annotated.groupBy(normalize_unit(F.col("_file")).alias("unit"))
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.sum(F.when(F.col("_passed"), 1).otherwise(0)).alias("n_pass"))
                .withColumn("n_fail", F.col("rows") - F.col("n_pass")))
            audit.record(per_file)
    want = {os.path.basename(p) for p in w.pending_files()}
    if {os.path.basename(r.unit) for r in todo} != want:
        problems.append("checkpoint layer: pending units differ from the seeded set")
    return {"checkpoint.units_pending": len(todo)}


def _clean(w, span, problems: list[str]) -> dict[str, float]:
    """The transcript-cleaning path over a seeded near-duplicate corpus:
    its health gate and its near-dup stage each in isolation, then the
    whole ``corpus.clean_transcripts`` composition and its report."""
    from cerberus_spark import pipeline
    from cerberus_spark.checks.sequence import sequence_violations
    from cerberus_spark.corpus import clean_transcripts
    from cerberus_spark.operators.dedup import sequence_neardup_pairs
    from cerberus_spark.operators.graph import dedup_clusters
    from cerberus_spark.pipeline import materialize

    path = os.path.join(w.work, "clean_data")
    shutil.rmtree(path, ignore_errors=True)
    files = gen.write(gen.near_dup_conversations(w.seed, CLEAN_CONVS), path, 4)
    turns = w.spark.read.parquet(path)
    grammar = (pipeline.TRANSCRIPT_TRANSITIONS, pipeline.TRANSCRIPT_FIRST_ROLES)
    with span("clean"):
        with span("clean.health"):
            unhealthy = sequence_violations(
                turns, "conv_id", "role", "ts", ["turn_idx"], *grammar,
            ).select("conv_id").distinct().count()
        with span("clean.neardup"):
            pairs = sequence_neardup_pairs(turns, "conv_id", ["turn_idx"], "text",
                                           bucket_cap=200)
            n_pairs = pairs.count()
            materialize(dedup_clusters(pairs))
        with span("clean.report"):
            outs = clean_transcripts(turns, "conv_id", ["turn_idx"], "role", "ts",
                                     *grammar, token_col="text")
            report = {(r.stage, r.reason): r.n_convs for r in outs["report"].collect()}
    losers = report.get(("near_dup", "cluster_loser"), 0)
    kept = report.get(("kept", "survivor"), 0)
    if unhealthy + losers + kept != oracle.count_conversations(files):
        problems.append("clean layer: report does not account for every conversation")
    return {"clean.candidate_pairs": n_pairs}
