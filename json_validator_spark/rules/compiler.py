"""Rule compiler: Rule → Catalyst violation expression.

The analogue of the reference's schema parsing + keyword interpretation
(``JSONValidator.java:321-345`` parse, ``:381-397`` evaluate), except the
"interpretation" happens once at the driver: every rule compiles to ONE
Column expression of type ``array<struct<span_path,rule_id,severity,
message>>`` — the per-row violations that rule produces. The pipeline
concatenates these arrays and explodes once, so the entire row-rule layer
is a single narrow projection with zero shuffles and zero Python in the
hot path. Doc rules are scalar expressions; span rules compile to
``span_violation_expr`` inside one fused ``transform`` per spans column
(``operators/row_checks._branch_violations``), and higher-order functions
are ``CodegenFallback``, so that part of the projection runs interpreted.

``$ref`` resolution inlines named definitions with a cycle guard,
mirroring ``SchemaResolutionState.java:30-56``.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from json_validator_spark.rules.model import Rule
from json_validator_spark.rules.vocabulary import PRESENCE_KINDS, build_pass

VIOLATION_FIELDS = "span_path string, rule_id string, severity string, message string"
VIOLATION_ARRAY_TYPE = f"array<struct<{VIOLATION_FIELDS}>>"


class PlanConstants:
    """Violation-typed constants shared by every rule of one
    ``with_violations`` call. Each ``F.*`` call is a py4j round trip and
    Catalyst expressions are immutable, so one Column serves every use;
    a fresh instance per call, because Columns belong to the session
    that was active when they were built."""

    @cached_property
    def empty_array(self) -> Column:
        return F.array().cast(VIOLATION_ARRAY_TYPE)

    @cached_property
    def null_array(self) -> Column:
        return F.lit(None).cast(VIOLATION_ARRAY_TYPE)

    @cached_property
    def null_struct(self) -> Column:
        return F.lit(None).cast(f"struct<{VIOLATION_FIELDS}>")


def _message(rule: Rule) -> str:
    """Static per-rule message from the locale-keyed catalog
    (``rules/messages.py`` — the validator_en/fr/de.properties analogue;
    value-free so the aggregate rollup groupBy(severity,message) is
    exact and deterministic). Resolved at compile time → plan constant."""
    from json_validator_spark.rules.messages import message_for

    return f"[{rule.target}] {message_for(rule.kind)}"


def _expected_text(rule: Rule) -> str:
    """Plan-constant rendering of the constraint's expectation — the
    ``{1}`` slot of the reference's ``Expected {1} but found {0}``
    (``jsv-messages.properties:27``). Short, deterministic, derived from
    the rule params only."""
    p = rule.params
    if "value" in p:
        return f"{rule.kind} {p['value']}"
    if "regex" in p:
        return f"pattern {p['regex']}"
    if "values" in p:
        return "one of " + ", ".join(str(x) for x in p["values"])
    if "format" in p:
        return f"format {p['format']}"
    if "type" in p:
        return f"type {p['type']}"
    if "types" in p:
        return "type in " + ", ".join(str(t) for t in p["types"])
    return rule.kind


def _message_col(rule: Rule, value: Column, detail: bool) -> Column:
    """The violation ``message`` Column. Value-free plan constant by
    default; with ``detail=True`` the reference's interpolated form is
    appended — ``… (expected <constraint>, found <actual>)``, catalog
    slots ``jsv-messages.properties:27`` — for detailed-report
    consumers. The template stays the prefix and ``rule_id`` stays the
    grouping identity, so ``aggregate_report`` (rule_id × severity) is
    bit-identical in both modes."""
    msg = F.lit(_message(rule))
    if not detail:
        return msg
    found = F.when(value.isNull(), F.lit("(absent)")).otherwise(
        value.cast("string")
    )
    return F.concat(
        msg, F.lit(f" (expected {_expected_text(rule)}, found "), found, F.lit(")")
    )


# ----------------------------------------------------------------------
# $ref resolution (SchemaResolutionState.java:30-56 analogue)
# ----------------------------------------------------------------------

def resolve_refs(
    schema: dict[str, Any],
    definitions: dict[str, dict[str, Any]] | None,
    _seen: frozenset[str] = frozenset(),
) -> dict[str, Any]:
    """Inline ``{"kind": "$ref", "params": {"ref": name}}`` nodes from the
    shared ``definitions`` map (the LocalSchemaCache analogue,
    ``LocalSchemaCache.java:62-73``). Cycles raise — the reference guards
    recursion the same way rather than looping forever."""
    if schema.get("kind") == "$ref":
        name = schema["params"]["ref"]
        if name in _seen:
            raise ValueError(f"cyclic $ref: {' -> '.join([*_seen, name])}")
        if not definitions or name not in definitions:
            raise ValueError(f"unresolved $ref: {name}")
        return resolve_refs(definitions[name], definitions, _seen | {name})
    params = schema.get("params", {})
    new_params = dict(params)
    if "schema" in params:
        new_params["schema"] = resolve_refs(params["schema"], definitions, _seen)
    if "schemas" in params and isinstance(params["schemas"], list):
        new_params["schemas"] = [resolve_refs(s, definitions, _seen) for s in params["schemas"]]
    # subschemas held in dict-valued params: per-key `properties` and the
    # discriminator `mapping` (same holders _uses_python_predicate walks)
    for holder in ("properties", "mapping"):
        if isinstance(params.get(holder), dict):
            new_params[holder] = {
                k: resolve_refs(v, definitions, _seen) if isinstance(v, dict) else v
                for k, v in params[holder].items()
            }
    # unevaluated* dynamic contributors carry pass-predicate nodes in `when`
    if isinstance(params.get("contributors"), list):
        new_params["contributors"] = [
            {**c, "when": [
                resolve_refs(n, definitions, _seen) if isinstance(n, dict) else n
                for n in c.get("when", [])
            ]}
            for c in params["contributors"]
        ]
    return {**schema, "params": new_params}


# ----------------------------------------------------------------------
# Guards (conditional application within a row / span)
# ----------------------------------------------------------------------

def _span_guard(params: dict[str, Any]) -> Callable[[Column], Column] | None:
    """Optional ``when`` guard: the keyword applies only to spans where
    ``spans[i][field]`` equals/matches something — e.g. 'text must be
    non-null when kind=text'. Returns span-struct → bool, or None."""
    w = params.get("when")
    if not w:
        return None

    def guard(s: Column) -> Column:
        v = s[w["field"]]
        if "eq" in w:
            return v.isNotNull() & (v == F.lit(w["eq"]))
        if "in" in w:
            return v.isNotNull() & v.isin(list(w["in"]))
        if "pattern" in w:
            return v.isNotNull() & v.rlike(w["pattern"])
        raise ValueError(f"unsupported when-guard: {w}")

    return guard


# ----------------------------------------------------------------------
# Compiled form
# ----------------------------------------------------------------------

@dataclass(frozen=True)
class CompiledRule:
    rule: Rule
    violations: Callable[[], Column]  # () -> array<struct<...>> per row
    pass_flag: Callable[[], Column]   # () -> boolean per row (True = pass)


def normalize_rule(
    rule: Rule, definitions: dict[str, dict[str, Any]] | None = None
) -> Rule:
    """$ref inlining + catalog-alias normalization (aliases BEFORE
    dispatch so presence semantics — e.g. readOnly → forbidden must see
    nulls — resolve correctly)."""
    from json_validator_spark.rules.vocabulary import ALIASES

    schema = resolve_refs({"kind": rule.kind, "params": rule.params}, definitions)
    kind, params = ALIASES.get(schema["kind"], schema["kind"]), schema["params"]
    out = Rule(rule.rule_id, rule.target, kind, params, rule.severity, rule.ruleset)
    if out.level == "span" and _uses_python_predicate(kind, params):
        # The two pandas-UDF-backed predicates cannot run inside the
        # higher-order-function lambdas span rules compile to — Spark
        # rejects the plan at analysis time with an opaque error, so
        # fail clearly here at compile time instead (ADVICE r01).
        raise ValueError(
            f"rule {rule.rule_id!r}: a Python-engine predicate (pattern "
            f"engine='python' or format:'regex', possibly nested in a "
            f"subschema) is doc-level only — span targets ({rule.target!r}) "
            "compile to array lambdas, where Spark forbids (pandas) UDFs"
        )
    return out


def _uses_python_predicate(kind: str, params: dict[str, Any]) -> bool:
    """True if this keyword — or any subschema nested under it (items /
    contains / combinators / properties / discriminator mappings) —
    compiles to a pandas UDF."""
    if (kind == "pattern" and params.get("engine") == "python") or (
        kind == "format" and params.get("format") == "regex"
    ):
        return True
    subs: list[dict[str, Any]] = []
    if isinstance(params.get("schema"), dict):
        subs.append(params["schema"])
    if isinstance(params.get("schemas"), list):
        subs.extend(s for s in params["schemas"] if isinstance(s, dict))
    for holder in ("properties", "mapping"):
        if isinstance(params.get(holder), dict):
            subs.extend(v for v in params[holder].values() if isinstance(v, dict))
    for c in params.get("contributors", []):
        subs.extend(n for n in c.get("when", []) if isinstance(n, dict))
    return any(
        _uses_python_predicate(s.get("kind", ""), s.get("params", {})) for s in subs
    )


def compile_rule(
    rule: Rule,
    definitions: dict[str, dict[str, Any]] | None = None,
    detail: bool = False,
    consts: PlanConstants | None = None,
) -> CompiledRule:
    """Compile one DOC-level rule. Span rules have no per-rule form: they
    are evaluated together, one fused ``transform`` per spans column, by
    ``operators.row_checks.with_violations``."""
    if rule.level == "span":
        raise ValueError(
            f"rule {rule.rule_id!r}: span-level target {rule.target!r} has "
            "no per-rule compiled form; evaluate span rules through "
            "operators.row_checks.with_violations"
        )
    return _compile_doc_rule(
        normalize_rule(rule, definitions), detail, consts or PlanConstants()
    )


def _null_wrapped(kind: str, value: Column, params: dict[str, Any]) -> Column:
    """JSON-Schema null semantics: absent value passes all keywords except
    the presence family (``required`` etc.)."""
    raw = build_pass(kind, value, params)
    if kind in PRESENCE_KINDS:
        return raw
    return F.when(value.isNull(), F.lit(True)).otherwise(raw)


def _doc_value(rule: Rule) -> Column:
    # F.get for positions: ANSI mode errors on out-of-range indexes,
    # but a pointer past the end must read as absent (null).
    return _pointer_value(rule.target)


def _pointer_value(target: str) -> Column:
    """Resolve a full JSON-pointer path to a Column — same traversal as
    ``_doc_value`` (nested fields + positional F.get), for guards and
    dependency targets that are NOT the rule's own target."""
    parts = target.strip("/").split("/")
    if parts == [""]:
        # document-root target ("/"): no single column carries "the whole
        # row" — only the constant kinds (true/false branch anchors) may
        # anchor here, and their predicates ignore the value
        return F.lit(None).cast("string")
    col: Column = F.col(parts[0])
    for p in parts[1:]:
        col = col[p] if not p.isdigit() else F.get(col, int(p))
    return col


def _compile_doc_rule(rule: Rule, detail: bool, consts: PlanConstants) -> CompiledRule:
    value = _doc_value(rule)

    def pass_flag() -> Column:
        if rule.kind == "dependentRequired":
            # full-pointer resolution: '/meta/lang' must test meta.lang,
            # not the whole meta struct
            if_val = _pointer_value(rule.params["if_target"])
            return F.when(if_val.isNotNull(), value.isNotNull()).otherwise(F.lit(True))
        ok = _null_wrapped(rule.kind, value, rule.params)
        w = rule.params.get("when_doc")
        if w:  # doc-level guard: apply only when another column matches
            gv = _pointer_value(w["target"])
            g = gv == F.lit(w["eq"]) if "eq" in w else gv.isin(list(w["in"]))
            ok = F.when(gv.isNotNull() & g, ok).otherwise(F.lit(True))
        return ok

    def violations() -> Column:
        v = F.struct(
            F.lit(rule.target).alias("span_path"),
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.severity).alias("severity"),
            _message_col(rule, value, detail).alias("message"),
        )
        return F.when(~pass_flag(), F.array(v)).otherwise(consts.null_array)

    return CompiledRule(rule, violations, pass_flag)


def _per_span_ok(rule: Rule, s: Column) -> Column:
    """Pass predicate for ONE span struct value ``s`` — the element
    variable of the fused per-span lambda (`span_violation_expr`)."""
    fld = rule.span_field
    guard = _span_guard(rule.params)
    if rule.kind == "dependentRequired":
        if_val = s[rule.params["if_field"]]
        ok = F.when(if_val.isNotNull(), s[fld].isNotNull()).otherwise(F.lit(True))
    else:
        ok = _null_wrapped(rule.kind, s[fld], rule.params)
    if guard is not None:
        ok = F.when(guard(s), ok).otherwise(F.lit(True))
    return ok


def span_violation_expr(
    rule: Rule, s: Column, i: Column, detail: bool, consts: PlanConstants
) -> Column:
    """``when(span fails rule, violation struct)`` for ONE span: ``s`` is
    the span struct value, ``i`` its position. Called inside the fused
    per-span ``transform`` lambda of ``row_checks._branch_violations``,
    so it runs interpreted (higher-order functions are
    ``CodegenFallback``)."""
    v = F.struct(
        F.concat(
            F.lit(f"/{rule.column}/"), i.cast("string"), F.lit(f"/{rule.span_field}")
        ).alias("span_path"),
        F.lit(rule.rule_id).alias("rule_id"),
        F.lit(rule.severity).alias("severity"),
        _message_col(rule, s[rule.span_field], detail).alias("message"),
    )
    return F.when(~_per_span_ok(rule, s), v).otherwise(consts.null_struct)

