"""Row-rule evaluation + schema-set combination — one narrow pass.

The reference validates each document against each schema in a set, then
combines outcomes with ALL / ANY / ONE_OF semantics
(``JSONValidator.java:252-296``; ANY branch-prefixing at ``:305-310``;
ONE_OF count error per ``validator_en.properties:21``). Here the whole
thing — every rule of every branch, plus the combination algebra — is ONE
projection over the corpus:

1. each compiled rule yields a per-row ``array<violation>`` Column;
2. per-branch arrays concatenate rule arrays; a branch *passes* for a doc
   iff it produced zero error-severity violations (warnings don't fail,
   matching the reference's errors-only result logic,
   ``JSONValidator.java:454-459``);
3. the combination decides which violations survive and whether to add a
   combination-level header violation.

No shuffle and no Python UDF: the plan is a single Project. Doc rules
are scalar expressions and whole-stage codegen compiles them; span rules
run inside one fused ``transform`` per spans column, and higher-order
functions are ``CodegenFallback``, so that part of the Project runs
interpreted.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_validator_spark.rules.compiler import (
    PlanConstants,
    compile_rule,
    normalize_rule,
    span_violation_expr,
)
from json_validator_spark.rules.model import Combination, Rule, RuleSet, RuleSetGroup


def _branch_violations(
    rules: list[Rule],
    definitions: dict[str, dict[str, Any]] | None,
    detail: bool,
    consts: PlanConstants,
) -> Column:
    """All of one branch's violations as ONE array Column.

    Span rules are FUSED: one ``transform`` over the spans array
    evaluates every span rule per element (``span_violation_expr``) —
    higher-order functions run interpreted, so k separate per-rule
    transforms cost k array traversals per row; fusing them into one
    traversal keeps the predicate work and drops the overhead. Doc-level
    rules (array-shaped: monotonic, minItems, …) keep their per-rule
    arrays and concat on.

    Measured alternative (rejected): posexplode the spans and evaluate
    ``span_violation_expr`` as scalar whole-stage-codegen expressions.
    Identical output, but steady-state 13% SLOWER on the 1M-doc bench
    corpus (2.7s fused vs 3.0s exploded) — the Generate materializing
    ~8x span rows costs more than interpreted-HOF evaluation of the
    fused lambda saves. The fused shape also keeps the row un-exploded
    for the verdict/combination columns."""
    norm = [normalize_rule(r, definitions) for r in rules]
    arrays: list[Column] = []
    span_rules = [r for r in norm if r.level == "span"]
    def _per_span_fn(group: list[Rule]):
        # factory, not default-arg binding: pyspark dispatches HOF lambdas
        # on parameter count, so the callable must be exactly (s, i)
        def per_span(s: Column, i: Column) -> Column:
            return F.array_compact(
                F.array(*[span_violation_expr(r, s, i, detail, consts) for r in group])
            )

        return per_span

    for spans_col in sorted({r.column for r in span_rules}):
        group = [r for r in span_rules if r.column == spans_col]
        per_span = _per_span_fn(group)
        arrays.append(
            F.when(
                F.col(spans_col).isNotNull(),
                F.flatten(F.transform(F.col(spans_col), per_span)),
            ).otherwise(consts.empty_array)
        )
    arrays.extend(
        compile_rule(r, detail=detail, consts=consts).violations()
        for r in norm if r.level == "doc"
    )
    return _concat_arrays(arrays, consts)

def _concat_arrays(arrays: list[Column], consts: PlanConstants) -> Column:
    if not arrays:
        return consts.empty_array
    return F.concat(*[F.coalesce(a, consts.empty_array) for a in arrays])


def _header(rule_id: str, message: str) -> Column:
    return F.struct(
        F.lit("/").alias("span_path"),
        F.lit(rule_id).alias("rule_id"),
        F.lit("error").alias("severity"),
        F.lit(message).alias("message"),
    )


def _tag_branch(arr: Column, branch_idx: int) -> Column:
    """Prefix each violation message with its branch index — the ANY/ONE_OF
    branch marker of ``JSONValidator.java:305-310`` (``[n]: ...``)."""
    return F.transform(
        arr,
        lambda v: F.struct(
            v["span_path"].alias("span_path"),
            v["rule_id"].alias("rule_id"),
            v["severity"].alias("severity"),
            F.concat(F.lit(f"[{branch_idx}]: "), v["message"]).alias("message"),
        ),
    )


def _combine(
    ruleset: RuleSet,
    definitions: dict[str, dict[str, Any]] | None,
    detail: bool,
    consts: PlanConstants,
) -> tuple[Column, Column, Column]:
    """One rule set's combination algebra → ``(final violations array,
    doc_pass, n_branches_passed)`` Columns."""
    branches = ruleset.branch_names
    # NOTE: the combination algebra references each branch array 2-3x
    # (pass flag + final union / tagged copy), and expression references
    # re-evaluate (no CSE across output columns). A let-wrapper does NOT
    # help here — the wrapper itself is re-referenced per column. The
    # known-good mitigations (aggregation barrier / persist) cost more
    # than the 2-3x for the ANY/ONE_OF shapes, so this is deliberate;
    # the hot ALL path explodes violations ONCE via violations_df.
    branch_viols: list[Column] = []
    branch_pass: list[Column] = []
    for b in branches:
        viols = _branch_violations(ruleset.branch(b), definitions, detail, consts)
        branch_viols.append(viols)
        branch_pass.append(
            F.size(F.filter(viols, lambda v: v["severity"] == "error")) == 0
        )

    n_passed = sum((p.cast("int") for p in branch_pass), start=F.lit(0))
    combo = ruleset.combination

    if combo == Combination.ALL or len(branches) == 1:
        # every branch must pass; violations are the union (JSONValidator.java:254-258)
        final = _concat_arrays(branch_viols, consts)
        doc_pass = F.lit(True)
        for p in branch_pass:
            doc_pass = doc_pass & p
    elif combo == Combination.ANY:
        # ≥1 branch passes ⇒ success, violations suppressed; else all
        # branch errors, branch-tagged, plus a header (JSONValidator.java:279-294)
        any_pass = F.lit(False)
        for p in branch_pass:
            any_pass = any_pass | p
        tagged = _concat_arrays(
            [_tag_branch(v, i) for i, v in enumerate(branch_viols)], consts
        )
        failure = F.concat(
            F.array(_header("combination.any", "content does not match any of the configured schemas")),
            tagged,
        )
        final = F.when(any_pass, consts.empty_array).otherwise(failure)
        doc_pass = any_pass
    elif combo == Combination.ONE_OF:
        # exactly one must pass; 0 ⇒ all branch errors + header; >1 ⇒ a
        # count violation (JSONValidator.java:259-278, validator_en.properties:17,21)
        tagged = _concat_arrays(
            [_tag_branch(v, i) for i, v in enumerate(branch_viols)], consts
        )
        zero_case = F.concat(
            F.array(_header("combination.oneOf", "content does not match any of the configured schemas")),
            tagged,
        )
        multi_case = F.array(
            _header("combination.oneOf.multiple", "content matches more than one configured schema")
        )
        final = (
            F.when(n_passed == 1, consts.empty_array)
            .when(n_passed == 0, zero_case)
            .otherwise(multi_case)
        )
        doc_pass = n_passed == 1
    else:  # pragma: no cover
        raise ValueError(f"unknown combination: {combo}")

    return final, doc_pass, n_passed


def with_violations(
    df: DataFrame,
    ruleset: RuleSet | RuleSetGroup,
    definitions: dict[str, dict[str, Any]] | None = None,
    detail: bool = False,
) -> DataFrame:
    """Append ``violations array<struct>``, ``doc_pass boolean`` and
    ``n_branches_passed int`` to ``df`` — still un-exploded, still narrow.

    A ``RuleSetGroup`` conjoins groups (allOf between them,
    ``JSONValidator.java:423-435``) while each keeps its own
    ALL/ANY/ONE_OF algebra; ``n_branches_passed`` then counts passing
    GROUPS. Still one projection — the group conjunction is plain
    boolean algebra over the same narrow pass."""
    consts = PlanConstants()
    if isinstance(ruleset, RuleSetGroup):
        finals: list[Column] = []
        passes: list[Column] = []
        for g in ruleset.groups:
            f_g, p_g, _ = _combine(g, definitions, detail, consts)
            finals.append(f_g)
            passes.append(p_g)
        final = _concat_arrays(finals, consts)
        doc_pass = passes[0]
        for p in passes[1:]:
            doc_pass = doc_pass & p
        n_passed = sum((p.cast("int") for p in passes), start=F.lit(0))
    else:
        final, doc_pass, n_passed = _combine(ruleset, definitions, detail, consts)

    return df.withColumns(
        {
            "violations": final,
            "doc_pass": doc_pass,
            "n_branches_passed": n_passed,
        }
    )


def violations_df(
    df: DataFrame,
    ruleset: RuleSet | RuleSetGroup,
    definitions: dict[str, dict[str, Any]] | None = None,
    doc_id: str = "doc_id",
    detail: bool = False,
) -> DataFrame:
    """Exploded violation rows ``(doc_id, span_path, rule_id, severity,
    message)`` — the reference's report items (``JSONValidator.java:461-465``)."""
    vdf = with_violations(df, ruleset, definitions, detail=detail)
    # explode_outer + isNotNull, NOT plain explode: the optimizer guards a
    # non-outer Generate with a size(violations)>0 pre-filter, and because
    # higher-order functions are CodegenFallback (no cross-reference CSE)
    # that filter re-evaluates the entire rule expression a second time —
    # measured 1.6x slower on a 4M-doc corpus.
    return (
        vdf.select(F.col(doc_id).alias("doc_id"), F.explode_outer("violations").alias("v"))
        .filter(F.col("v").isNotNull())
        .select(
            "doc_id",
            F.col("v.span_path").alias("span_path"),
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.severity").alias("severity"),
            F.col("v.message").alias("message"),
        )
    )
