"""The benchmark's workloads: seeded inputs, the op, its output check,
and the layer ledger the traced run times from outside the package.

Every workload uses the FIXTURES.md section 1 corpus shape, generated by
``sources.synth`` from the run's seed. One op is one full validation job.

- ``flagship``: parquet corpus -> ``validate_run(corpus_ruleset(),
  media catalog, uniqueness)`` -> one-action ``metrics.collect()``.
  Row rules do most of the work, so a change to ``operators.row_checks``
  shows here.
- ``set_heavy``: the same shape with a 1M-entry catalog on both sides and
  the one rule ``required.doc_id``. The uniqueness groupBy, the catalog
  ``distinct`` and the broadcast do the work and row rules almost none,
  so a row-rule change is predicted not to move it.
- ``jsonl_report``: raw JSON lines (about 0.5% truncated) validated
  through ``cli.main`` against an imported 2020-12 JSON Schema, reports
  written to disk. ``sources.ingest`` and ``operators.report`` dominate.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from json_validator_spark import cli
from json_validator_spark.corpus import corpus_ruleset
from json_validator_spark.operators.report import doc_verdicts_merged, ordered
from json_validator_spark.operators.row_checks import with_violations
from json_validator_spark.operators.set_checks import (
    referential_violations,
    span_media_refs,
    uniqueness_violations,
)
from json_validator_spark.plans.pipeline import validate_run
from json_validator_spark.rules.model import Combination, Rule, RuleSet
from json_validator_spark.rules.schema_import import ruleset_from_json_schema
from json_validator_spark.sources.ingest import (
    jsonl_corrupt_violations,
    jsonl_valid,
    load_jsonl,
)
from json_validator_spark.sources.synth import (
    SPAN_SCHEMA,
    synth_documents,
    synth_media_catalog,
)
from json_validator_spark.sources.tables import write_table

DDL = f"doc_id string, spans {SPAN_SCHEMA}"

# An imported 2020-12 schema over the corpus. `items` is written inline:
# an `items` that is a `$ref` to an object schema currently fails
# analysis on struct-typed `spans` (`map_keys` applied to a struct).
JSON_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "required": ["doc_id", "spans"],
    "properties": {
        "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "spans": {
            "type": "array",
            "minItems": 1,
            "items": {
                "type": "object",
                "required": ["kind"],
                "properties": {
                    "kind": {"enum": ["text", "media"]},
                    "text": {"type": "string", "maxLength": 280},
                    "media_ref": {"type": "string", "pattern": "^media://[0-9a-f]{8}-"},
                    "offset": {"type": "integer", "minimum": 0},
                },
            },
        },
    },
}

TRUNCATED_PER_MILLE = 5
PARTITIONS = 8  # input files per corpus, so every scan has 2 tasks per core
REPORT_TABLES = ("violations", "verdicts", "partition_verdicts", "aggregate")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


@dataclass(frozen=True)
class Inputs:
    """A generated input set on disk; ``meta`` is what the generator
    knows of it (line and truncation counts, generation time)."""

    dir: Path
    catalog_dir: Path | None
    meta: dict

    @property
    def corpus(self) -> str:
        return str(self.dir / "corpus")


@dataclass(frozen=True)
class Rules:
    ruleset: object
    definitions: dict | None
    n_rules: int
    schema_path: str | None = None


def ids_ruleset() -> RuleSet:
    return RuleSet(
        name="ids", combination=Combination.ALL,
        rules=(Rule("required.doc_id", "/doc_id", "required"),),
    )


class TableWorkload:
    """``validate_run`` over a parquet corpus and a parquet media catalog;
    the op is the one-action ``metrics.collect()``."""

    def __init__(self, name: str, n_docs: int, catalog_size: int, ruleset) -> None:
        self.name, self.n_docs, self.catalog_size = name, n_docs, catalog_size
        self._ruleset = ruleset

    @property
    def catalog_key(self) -> str | None:
        # the catalog depends on its size only, so seeds share it
        return f"catalog-n{self.catalog_size}"

    def generate(self, spark, seed: int, dest: Path, catalog_dir: Path | None) -> dict:
        synth_documents(
            spark, self.n_docs, seed=seed, catalog_size=self.catalog_size,
            partitions=PARTITIONS,
        ).write.parquet(str(dest / "corpus"))
        if not catalog_dir.exists():
            tmp = catalog_dir.with_name(catalog_dir.name + ".tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            synth_media_catalog(spark, self.catalog_size).write.parquet(str(tmp))
            tmp.rename(catalog_dir)
        return {"n_lines": self.n_docs, "n_truncated": 0}

    def import_rules(self, work: Path) -> Rules:
        rs = self._ruleset()
        return Rules(rs, None, len(rs.rules))

    def frames(self, spark, inp: Inputs):
        """``(docs, extra violation frames, catalog, verdict base)``."""
        docs = spark.read.parquet(inp.corpus)
        return docs, [], spark.read.parquet(str(inp.catalog_dir)), docs

    def _run(self, spark, inp: Inputs, rules: Rules):
        docs, _, catalog, _ = self.frames(spark, inp)
        return validate_run(
            spark, docs, rules.ruleset, media_catalog=catalog, check_uniqueness=True,
        )

    def op(self, spark, inp: Inputs, rules: Rules, out: Path):
        return self._run(spark, inp, rules).metrics.collect()[0].asDict()

    def traced_op(self, spark, inp, rules, out, tracer, op_id):
        with tracer.span("pipeline", op_id):
            with tracer.span("pipeline.build", op_id):
                res = self._run(spark, inp, rules)
            with tracer.span("pipeline.plan", op_id):
                res.metrics._jdf.queryExecution().executedPlan()
            return res.metrics.collect()[0].asDict()

    def result(self, spark, raw, out: Path) -> dict:
        """The op's output in the form compared across reps."""
        return raw

    def per_rule(self, spark, inp: Inputs, rules: Rules, result: dict) -> Counter:
        """Per-``rule_id`` counts of the op's result: one more evaluation
        of the same pipeline, through ``RunResult.aggregate``."""
        agg = self._run(spark, inp, rules).aggregate.collect()
        return Counter({r["rule_id"]: r["count"] for r in agg})

    def check(self, result: dict, counts: Counter, inp: Inputs) -> list[str]:
        errs = []
        if sum(counts.values()) != result["n_violations"]:
            errs.append(
                f"per-rule sum {sum(counts.values())} != n_violations {result['n_violations']}"
            )
        return errs

    def is_corpus_scan(self, node: dict) -> bool:
        schema = node.get("metadata", {}).get("ReadSchema", "")
        return node["nodeName"].startswith("Scan parquet") and (
            "doc_id" in schema or "spans" in schema
        )

    def scan(self, spark, inp: Inputs) -> int:
        return spark.read.parquet(inp.corpus).count()

    def parse(self, spark, inp: Inputs) -> dict:
        return _span_counts(spark.read.parquet(inp.corpus)) | {"corrupt_lines": 0}


class JsonlWorkload(TableWorkload):
    """Raw JSON lines validated through ``cli.main``; the op writes the
    report tables to disk, and its output is read back from them."""

    @property
    def catalog_key(self) -> str | None:
        return None

    def generate(self, spark, seed: int, dest: Path, catalog_dir: Path | None) -> dict:
        docs = synth_documents(spark, self.n_docs, seed=seed, partitions=PARTITIONS)
        # half an object is always unclosed, so each cut line is corrupt
        cut = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(1000)) < TRUNCATED_PER_MILLE
        lines = docs.select(
            F.to_json(F.struct("doc_id", "spans")).alias("value"), cut.alias("cut")
        )
        lines.select(
            F.when(F.col("cut"), F.expr("substring(value, 1, length(value) div 2)"))
            .otherwise(F.col("value")).alias("value")
        ).write.text(str(dest / "corpus"))
        return {"n_lines": self.n_docs, "n_truncated": docs.filter(cut).count()}

    def import_rules(self, work: Path) -> Rules:
        path = work / "jsonl_report.schema.json"
        path.write_text(json.dumps(JSON_SCHEMA))
        with path.open() as f:
            rs, defs = ruleset_from_json_schema(json.load(f))
        return Rules(rs, defs, len(rs.rules), str(path))

    def frames(self, spark, inp: Inputs):
        # the CLI's own composition of the ingest layer
        raw = load_jsonl(spark, inp.corpus, DDL)
        docs = jsonl_valid(raw)
        corrupt = jsonl_corrupt_violations(raw)
        base = docs.select(F.col("doc_id").cast("string").alias("doc_id")).unionByName(
            corrupt.select("doc_id")
        )
        return docs, [corrupt], None, base

    def op(self, spark, inp: Inputs, rules: Rules, out: Path):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli.main([
                "validate", "--input", inp.corpus, "--output", str(out),
                "--input-format", "jsonl", "--input-schema", DDL,
                "--schema", rules.schema_path,
                "--master", spark.sparkContext.master,
            ])
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def traced_op(self, spark, inp, rules, out, tracer, op_id):
        with tracer.span("pipeline", op_id):
            return self.op(spark, inp, rules, out)

    def result(self, spark, raw, out: Path) -> dict:
        agg = spark.read.parquet(str(out / "aggregate")).collect()
        per_rule = {r["rule_id"]: r["count"] for r in agg}
        return {
            "verdict_rows": raw["n_docs"],
            "violation_rows": spark.read.parquet(str(out / "violations")).count(),
            "n_violations": sum(per_rule.values()),
            "per_rule": per_rule,
        }

    def per_rule(self, spark, inp: Inputs, rules: Rules, result: dict) -> Counter:
        return Counter(result["per_rule"])

    def check(self, result: dict, counts: Counter, inp: Inputs) -> list[str]:
        errs = super().check(result, counts, inp)
        if result["violation_rows"] != result["n_violations"]:
            errs.append(f"violation rows {result['violation_rows']} != {result['n_violations']}")
        if result["verdict_rows"] != inp.meta["n_lines"]:
            errs.append(f"verdict rows {result['verdict_rows']} != lines {inp.meta['n_lines']}")
        if counts["corrupt.document"] != inp.meta["n_truncated"]:
            errs.append(
                f"corrupt.document {counts['corrupt.document']} != "
                f"truncated lines {inp.meta['n_truncated']}"
            )
        return errs

    def is_corpus_scan(self, node: dict) -> bool:
        return node["nodeName"].startswith("Scan text")

    def scan(self, spark, inp: Inputs) -> int:
        return spark.read.text(inp.corpus).count()

    def parse(self, spark, inp: Inputs) -> dict:
        docs, (corrupt,), _, _ = self.frames(spark, inp)
        return _span_counts(docs) | {"corrupt_lines": corrupt.count()}


def _span_counts(docs) -> dict:
    row = docs.agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.size("spans")).alias("spans_in"),
        F.sum(F.size(F.filter(
            "spans", lambda s: (s["kind"] == "media") & s["media_ref"].isNotNull()
        ))).alias("refs"),
    ).first()
    return row.asDict()


WORKLOADS = {
    w.name: w
    for w in (
        TableWorkload("flagship", 80_000, 10_000, corpus_ruleset),
        TableWorkload("set_heavy", 50_000, 1_000_000, ids_ruleset),
        JsonlWorkload("jsonl_report", 20_000, 10_000, None),
    )
}


def layer_ledger(spark, wl, inp: Inputs, rules: Rules, tracer, out: Path) -> dict:
    """Time each layer once, as its own Spark actions, through the
    modules' public functions; return the layer counts."""
    op = "layers"
    with tracer.span("sources", op):
        with tracer.span("sources.scan", op):
            wl.scan(spark, inp)
        with tracer.span("sources.parse", op):
            counts = wl.parse(spark, inp)
    docs, extra, catalog, verdict_base = wl.frames(spark, inp)

    with tracer.span("row_checks", op):
        per_rule = (
            with_violations(docs, rules.ruleset, rules.definitions)
            .select(F.posexplode_outer("violations").alias("pos", "v"))
            .filter(F.col("v").isNotNull())
            .groupBy(F.col("v.rule_id").alias("rule_id"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                # a document's first violation is at position 0
                F.sum((F.col("pos") == 0).cast("long")).alias("docs"),
            )
            .collect()
        )
    counts["row_rules"] = {r["rule_id"]: r["n"] for r in per_rule}
    counts["docs_failing"] = sum(r["docs"] for r in per_rule)

    with tracer.span("set_checks", op):
        with tracer.span("set_checks.uniqueness", op):
            counts["dup_keys"] = uniqueness_violations(docs).count()
        counts["refs_missing"] = 0
        if catalog is not None:
            with tracer.span("set_checks.referential", op):
                counts["refs_missing"] = referential_violations(
                    span_media_refs(docs), "media_ref", catalog, "media_ref",
                    rule_id="ref.media_catalog", span_path=F.col("span_path"),
                ).count()

    # the frames the report layer writes; the CLI builds them the same way
    with tracer.span("pipeline.build", op):
        res = validate_run(
            spark, docs, rules.ruleset, definitions=rules.definitions,
            media_catalog=catalog, extra_violations=extra or None,
        )
    with tracer.span("pipeline.plan", op):
        res.violations._jdf.queryExecution().executedPlan()
    with tracer.span("report", op):
        with tracer.span("report.violations_write", op):
            write_table(ordered(res.violations), str(out / "violations"))
        with tracer.span("report.verdicts_write", op):
            write_table(doc_verdicts_merged(verdict_base, res.violations), str(out / "verdicts"))
            write_table(res.partition_verdicts, str(out / "partition_verdicts"))
        with tracer.span("report.aggregate_write", op):
            write_table(res.aggregate, str(out / "aggregate"))
    written = {t: spark.read.parquet(str(out / t)).count() for t in REPORT_TABLES}
    counts["rows_written"] = sum(written.values())
    counts["violation_rows_written"] = written["violations"]
    counts["verdict_rows_written"] = written["verdicts"]
    counts["bytes_written"] = dir_bytes(out)
    return counts


def ledger_per_rule(counts: dict) -> Counter:
    """The per-rule counts the layers add up to: row rules, uniqueness,
    referential and corrupt lines."""
    c = Counter(counts["row_rules"])
    c["unique.doc_id"] += counts["dup_keys"]
    c["ref.media_catalog"] += counts["refs_missing"]
    c["corrupt.document"] += counts["corrupt_lines"]
    return +c  # drop zero entries
