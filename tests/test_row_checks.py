"""Operator unit tests — one per §2.2 rule kind on tiny deterministic
frames; assert exact violation-row sets (the analogue of the reference's
message-catalog behaviors, jsv-messages.properties)."""

from __future__ import annotations

import pytest

from json_validator_spark.operators.report import doc_verdicts
from json_validator_spark.operators.row_checks import violations_df, with_violations
from json_validator_spark.rules.compiler import compile_rule, resolve_refs
from json_validator_spark.rules.model import Rule, RuleSet
from tests.conftest import rows_set

SPAN_SCHEMA = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def span(kind=None, text=None, media_ref=None, offset=None):
    return (kind, text, media_ref, offset)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, SPAN_SCHEMA)


def viols(spark, rows, *rules, combination=None):
    rs = RuleSet(rules=tuple(rules))
    return rows_set(
        violations_df(docs_df(spark, rows), rs),
        "doc_id", "span_path", "rule_id", "severity",
    )


def test_enum_span_kind(spark):
    rows = [
        ("d1", [span("text", "hi", None, 0), span("imge", None, None, 1)]),
        ("d2", [span("media", None, "media://x", 0)]),
    ]
    got = viols(spark, rows, Rule("enum.kind", "/spans/*/kind", "enum", {"values": ["text", "media"]}))
    assert got == {("d1", "/spans/1/kind", "enum.kind", "error")}


def test_required_with_guard(spark):
    rows = [
        ("d1", [span("text", None, None, 0), span("text", "ok", None, 1)]),
        ("d2", [span("media", None, "media://x", 0)]),  # guard false: no violation
    ]
    got = viols(
        spark, rows,
        Rule("req.text", "/spans/*/text", "required", {"when": {"field": "kind", "eq": "text"}}),
    )
    assert got == {("d1", "/spans/0/text", "req.text", "error")}


def test_pattern_and_format(spark):
    rows = [
        ("d1", [span("media", None, "media://00000000-0000-0000-0000-000000000000", 0)]),
        ("d2", [span("media", None, "media:/broken", 0)]),
        ("d3", [span("media", None, None, 0)]),  # null passes format (not required)
    ]
    got = viols(
        spark, rows,
        Rule("fmt.ref", "/spans/*/media_ref", "format", {"format": "media-ref"}),
    )
    assert got == {("d2", "/spans/0/media_ref", "fmt.ref", "error")}


def test_monotonic_offsets(spark):
    rows = [
        ("inc", [span("text", "a", None, 0), span("text", "b", None, 5)]),
        ("eq", [span("text", "a", None, 3), span("text", "b", None, 3)]),
        ("dec", [span("text", "a", None, 9), span("text", "b", None, 1)]),
        ("one", [span("text", "a", None, 7)]),
    ]
    got = viols(spark, rows, Rule("mono", "/spans", "monotonic", {"field": "offset"}))
    assert got == {
        ("eq", "/spans", "mono", "error"),
        ("dec", "/spans", "mono", "error"),
    }


def test_min_max_items_and_unique(spark):
    rows = [
        ("empty", []),
        ("dup", [span("text", "a", None, 0), span("text", "a", None, 0)]),
        ("ok", [span("text", "a", None, 0), span("text", "b", None, 1)]),
    ]
    got = viols(
        spark, rows,
        Rule("min", "/spans", "minItems", {"value": 1}),
        Rule("uniq", "/spans", "uniqueItems", {"field": "text"}),
    )
    assert got == {
        ("empty", "/spans", "min", "error"),
        ("dup", "/spans", "uniq", "error"),
    }


def test_contains_and_items(spark):
    rows = [
        ("has_media", [span("text", "a", None, 0), span("media", None, "m", 1)]),
        ("no_media", [span("text", "a", None, 0)]),
    ]
    got = viols(
        spark, rows,
        Rule("has.media", "/spans", "contains",
             {"field": "kind", "schema": {"kind": "const", "params": {"value": "media"}}, "min": 1}),
        Rule("all.offsets.nonneg", "/spans", "items",
             {"field": "offset", "schema": {"kind": "minimum", "params": {"value": 0}}}),
    )
    assert got == {("no_media", "/spans", "has.media", "error")}


def test_doc_level_rules(spark):
    rows = [
        ("doc-000000000001", [span("text", "a", None, 0)]),
        ("bad id", [span("text", "a", None, 0)]),
        (None, [span("text", "a", None, 0)]),
    ]
    got = viols(
        spark, rows,
        Rule("req.id", "/doc_id", "required"),
        Rule("pat.id", "/doc_id", "pattern", {"regex": r"^doc-\d{12}$"}),
    )
    assert got == {
        ("bad id", "/doc_id", "pat.id", "error"),
        (None, "/doc_id", "req.id", "error"),
    }


def test_numeric_and_length_kinds(spark):
    df = spark.createDataFrame(
        [("a", 5, "hello"), ("b", -1, "x"), ("c", 15, None)],
        "doc_id string, n int, s string",
    )
    rs = RuleSet(rules=(
        Rule("rng", "/n", "range", {"min": 0, "max": 10}),
        Rule("len", "/s", "minLength", {"value": 2}),
        Rule("mult", "/n", "multipleOf", {"value": 5}),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("b", "rng"), ("b", "len"), ("b", "mult"), ("c", "rng")}


def test_dependent_required(spark):
    df = spark.createDataFrame(
        [("a", "x", "y"), ("b", "x", None), ("c", None, None)],
        "doc_id string, a string, b string",
    )
    rs = RuleSet(rules=(
        Rule("dep", "/b", "dependentRequired", {"if_target": "/a"}),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("b", "dep")}


def test_type_lexical(spark):
    df = spark.createDataFrame(
        [("a", "123"), ("b", "12.5"), ("c", "abc"), ("d", None)],
        "doc_id string, v string",
    )
    rs = RuleSet(rules=(Rule("t", "/v", "type", {"type": "integer", "lexical": True}),))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("b", "t"), ("c", "t")}


def test_in_schema_combinators(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 25), ("c", 15)], "doc_id string, v int"
    )
    sub_lo = {"kind": "maximum", "params": {"value": 10}}
    sub_hi = {"kind": "minimum", "params": {"value": 20}}
    rs = RuleSet(rules=(
        Rule("one", "/v", "oneOf", {"schemas": [sub_lo, sub_hi]}),
        Rule("any", "/v", "anyOf", {"schemas": [sub_lo, sub_hi]}),
        Rule("not", "/v", "not", {"schema": {"kind": "const", "params": {"value": 15}}}),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("c", "one"), ("c", "any"), ("c", "not")}


def test_ref_resolution_and_cycle_guard(spark):
    defs = {
        "positive": {"kind": "minimum", "params": {"value": 0}},
        "loop_a": {"kind": "$ref", "params": {"ref": "loop_b"}},
        "loop_b": {"kind": "$ref", "params": {"ref": "loop_a"}},
    }
    df = spark.createDataFrame([("a", 1), ("b", -1)], "doc_id string, v int")
    rs = RuleSet(rules=(Rule("pos", "/v", "$ref", {"ref": "positive"}),))
    got = rows_set(violations_df(df, rs, definitions=defs), "doc_id", "rule_id")
    assert got == {("b", "pos")}
    with pytest.raises(ValueError, match="cyclic"):
        resolve_refs({"kind": "$ref", "params": {"ref": "loop_a"}}, defs)
    with pytest.raises(ValueError, match="unresolved"):
        resolve_refs({"kind": "$ref", "params": {"ref": "nope"}}, {})


def test_warning_severity_does_not_fail_doc(spark):
    rows = [("d1", [span("text", "a", "media://oops", 0)])]
    rs = RuleSet(rules=(
        Rule("warn.ref", "/spans/*/media_ref", "forbidden",
             {"when": {"field": "kind", "eq": "text"}}, severity="warning"),
    ))
    wv = with_violations(docs_df(spark, rows), rs)
    verdicts = rows_set(doc_verdicts(wv), "doc_id", "result", "n_warnings")
    assert verdicts == {("d1", "SUCCESS", 1)}


def test_unknown_kind_raises():
    with pytest.raises(ValueError, match="unknown rule kind"):
        compile_rule(Rule("x", "/v", "no-such-keyword")).violations()


def test_compile_rule_rejects_span_rules():
    """Span rules have one compile path, the fused per-spans-column
    transform; compile_rule points there instead of compiling them."""
    with pytest.raises(ValueError, match="with_violations"):
        compile_rule(Rule("x", "/spans/*/kind", "required"))


# ----------------------------------------------------------------------
# dynamic-JSON object keywords over a map<string,string> column
# ----------------------------------------------------------------------

MAP_SCHEMA = "doc_id string, props map<string,string>"


def _map_viols(spark, rows, rule):
    from json_validator_spark.rules.model import RuleSet

    df = spark.createDataFrame(rows, MAP_SCHEMA)
    return rows_set(
        violations_df(df, RuleSet(rules=(rule,))),
        "doc_id", "rule_id",
    )


def test_object_keywords_on_map(spark):
    rows = [
        ("d1", {"k": "1", "name": "a"}),
        ("d2", {"name": "b"}),                      # missing k
        ("d3", {"k": "2", "name": "c", "zz!": "d"}),  # bad key + extra
        ("d4", None),                                # absent map passes
    ]
    assert _map_viols(spark, rows, Rule("rk", "/props", "requiredKey", {"key": "k"})) == {
        ("d2", "rk")
    }
    assert _map_viols(
        spark, rows, Rule("mp", "/props", "maxProperties", {"value": 2})
    ) == {("d3", "mp")}
    assert _map_viols(
        spark, rows,
        Rule("ap", "/props", "additionalProperties", {"allowed": ["k", "name"]}),
    ) == {("d3", "ap")}
    assert _map_viols(
        spark, rows, Rule("pn", "/props", "propertyNames", {"regex": "^[a-z]+$"})
    ) == {("d3", "pn")}


def test_pattern_properties_and_dependent_schemas(spark):
    rows = [
        ("d1", {"n_a": "12", "x": "zz"}),
        ("d2", {"n_b": "oops"}),              # n_* value not numeric
        ("d3", {"flag": "y", "n_c": "3"}),    # dependent: flag ⇒ ≥2 props (ok)
        ("d4", {"flag": "y"}),                # dependent: flag ⇒ ≥2 props (fail)
    ]
    assert _map_viols(
        spark, rows,
        Rule(
            "pp", "/props", "patternProperties",
            {"key_regex": "^n_", "schema": {"kind": "pattern", "params": {"regex": r"^\d+$"}}},
        ),
    ) == {("d2", "pp")}
    assert _map_viols(
        spark, rows,
        Rule(
            "ds", "/props", "dependentSchemas",
            {"key": "flag", "schema": {"kind": "minProperties", "params": {"value": 2}}},
        ),
    ) == {("d4", "ds")}


def test_catalog_aliases(spark):
    """Reference-catalog keywords that alias another builder resolve with
    the right (incl. presence) semantics."""
    rows = [
        ("d1", [span("text", "hi", "media://oops", 0)]),   # readOnly fails
        ("d2", [span("text", "ok", None, 0)]),
    ]
    got = viols(
        spark, rows,
        Rule("ro", "/spans/*/media_ref", "readOnly",
             {"when": {"field": "kind", "eq": "text"}}),
    )
    assert got == {("d1", "/spans/0/media_ref", "ro", "error")}

    df = spark.createDataFrame(
        [("a", "5", None), ("b", "x", None), ("c", None, "y")],
        "doc_id string, v string, w string",
    )
    from json_validator_spark.rules.model import RuleSet
    rs = RuleSet(rules=(
        Rule("ut", "/v", "unionType", {"types": ["integer", "boolean"], "lexical": True}),
        Rule("dep", "/w", "dependencies", {"if_target": "/v"}),
    ))
    got2 = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got2 == {("b", "ut"), ("a", "dep"), ("b", "dep")}


def test_additional_items_start_offset(spark):
    """additionalItems/unevaluatedItems check only elements BEYOND the
    prefix tuple (ADVICE r01: the bare items alias checked all of them)."""
    df = spark.createDataFrame(
        [("d1", [1, 200, 5]), ("d2", [1, 2, 300]), ("d3", [1, 2])],
        "doc_id string, arr array<int>",
    )
    from json_validator_spark.rules.model import RuleSet
    rs = RuleSet(rules=(
        Rule(
            "ai", "/arr", "additionalItems",
            {"schema": {"kind": "maximum", "params": {"value": 10}}, "start": 2},
        ),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    # d1's 200 sits INSIDE the prefix → not checked; d2's 300 is beyond → fails;
    # d3 has no post-prefix elements → vacuously passes
    assert got == {("d2", "ai")}


def test_unevaluated_properties_pattern_exclusion(spark):
    """unevaluatedProperties ignores patternProperties-matched keys when
    given the pattern list (ADVICE r01)."""
    rows = [
        ("d1", {"k": "1", "x-trace": "t"}),   # x-* matched by pattern → ok
        ("d2", {"k": "1", "rogue": "r"}),     # unmatched extra → fail
    ]
    df = spark.createDataFrame(rows, "doc_id string, props map<string,string>")
    from json_validator_spark.rules.model import RuleSet
    rs = RuleSet(rules=(
        Rule(
            "up", "/props", "unevaluatedProperties",
            {"allowed": ["k"], "allowed_patterns": ["^x-"]},
        ),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("d2", "up")}


def test_properties_keyword(spark):
    """`properties` (:24): each declared key's value satisfies its
    subschema; absent keys vacuously pass."""
    rows = [
        ("d1", {"n": "12", "name": "ok"}),
        ("d2", {"n": "oops"}),           # n not numeric
        ("d3", {"name": "fine"}),        # n absent → passes
    ]
    df = spark.createDataFrame(rows, "doc_id string, props map<string,string>")
    from json_validator_spark.rules.model import RuleSet
    rs = RuleSet(rules=(
        Rule(
            "props", "/props", "properties",
            {"properties": {
                "n": {"kind": "pattern", "params": {"regex": r"^\d+$"}},
                "name": {"kind": "minLength", "params": {"value": 2}},
            }},
        ),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("d2", "props")}


def test_discriminator_keyword(spark):
    """networknt discriminator: the `type` value routes to a subschema;
    missing or unmapped discriminating values fail."""
    rows = [
        ("d1", {"type": "num", "v": "42"}),
        ("d2", {"type": "word", "v": "hello"}),
        ("d3", {"type": "num", "v": "xx"}),    # routed schema fails
        ("d4", {"type": "mystery", "v": "1"}),  # no_match_found
        ("d5", {"v": "1"}),                     # missing_discriminating_value
    ]
    df = spark.createDataFrame(rows, "doc_id string, props map<string,string>")
    from json_validator_spark.rules.model import RuleSet
    num_v = {"kind": "patternProperties",
             "params": {"key_regex": "^v$",
                        "schema": {"kind": "pattern", "params": {"regex": r"^\d+$"}}}}
    word_v = {"kind": "patternProperties",
              "params": {"key_regex": "^v$",
                         "schema": {"kind": "pattern", "params": {"regex": r"^[a-z]+$"}}}}
    rs = RuleSet(rules=(
        Rule("disc", "/props", "discriminator",
             {"key": "type", "mapping": {"num": num_v, "word": word_v}}),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("d3", "disc"), ("d4", "disc"), ("d5", "disc")}


def test_wide_ruleset_stays_one_narrow_projection(spark):
    """A realistic 60-rule schema over 30 columns still compiles to a
    single shuffle-free projection — rule count must never change the
    plan shape, only the expression width."""
    n_cols = 30
    df = spark.createDataFrame(
        [tuple([i] + [float(i % 7)] * n_cols) for i in range(500)],
        "doc_id long, " + ", ".join(f"c{j} double" for j in range(n_cols)),
    )
    from json_validator_spark.rules.model import RuleSet
    rules = []
    for j in range(n_cols):
        rules.append(Rule(f"rng{j}", f"/c{j}", "range", {"min": 0.0, "max": 5.0}))
        rules.append(Rule(f"req{j}", f"/c{j}", "required"))
    rs = RuleSet(rules=tuple(rules))
    v = violations_df(df, rs)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # still zero shuffles
    # range fails where c % 7 == 6 → one violation per column
    assert v.count() == sum(1 for i in range(500) if i % 7 == 6) * n_cols


def test_rule_serialization_roundtrip():
    """to_row/from_row is lossless — the rule-table fixture contract the
    CLI's rules.json loader depends on."""
    r = Rule(
        "x", "/spans/*/text", "pattern",
        {"regex": "^a$", "engine": "java"}, severity="warning", ruleset="B",
    )
    assert Rule.from_row(r.to_row()) == r


def test_contains_ignores_null_elements(spark):
    """contains counts only non-null matching elements (regression:
    the null-vacuous wrapper inflated min/maxContains counts)."""
    df = spark.createDataFrame(
        [("d1", ["a", None, None]), ("d2", [None, None]), ("d3", ["a", "a", "b"])],
        "doc_id string, arr array<string>",
    )
    from json_validator_spark.rules.model import RuleSet
    rs = RuleSet(rules=(
        Rule("c", "/arr", "contains",
             {"schema": {"kind": "enum", "params": {"values": ["a"]}}, "min": 1}),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    assert got == {("d2", "c")}  # nulls alone never satisfy min=1


def test_dependent_required_nested_pointer(spark):
    """dependentRequired if_target resolves the FULL pointer, not just
    its first segment (regression: '/meta/lang' tested meta itself)."""
    df = spark.createDataFrame(
        [("d1", ("en",), "x"), ("d2", ("en",), None), ("d3", (None,), None)],
        "doc_id string, meta struct<lang:string>, translated string",
    )
    from json_validator_spark.rules.model import RuleSet
    rs = RuleSet(rules=(
        Rule("dep", "/translated", "dependentRequired", {"if_target": "/meta/lang"}),
    ))
    got = rows_set(violations_df(df, rs), "doc_id", "rule_id")
    # d2: lang present, translated missing → violation
    # d3: meta struct present but lang NULL → no dependency triggered
    assert got == {("d2", "dep")}


def test_detail_messages_interpolate_values(spark):
    """detail=True appends the reference's expected/found information
    (jsv-messages.properties:27 'Expected {1} but found {0}') to the
    value-free template, for doc rules and span rules alike."""
    df = spark.createDataFrame(
        [
            (1, 500, "zz", [("text", "x"), ("media", None)]),
            (2, 10, "en", [("text", "ok")]),
        ],
        "doc_id long, n long, lang string, "
        "spans array<struct<kind string, text string>>",
    )
    rs = RuleSet(rules=(
        Rule("cap", "/n", "maximum", {"value": 100}),
        Rule("lang", "/lang", "enum", {"values": ["en", "es"]}),
        Rule("span.text", "/spans/*/text", "required", {}),
    ))
    got = {(r.doc_id, r.rule_id): r.message
           for r in violations_df(df, rs, detail=True).collect()}
    assert got == {
        (1, "cap"): "[/n] constraint 'maximum' violated "
                    "(expected maximum 100, found 500)",
        (1, "lang"): "[/lang] value is not in the allowed set "
                     "(expected one of en, es, found zz)",
        (1, "span.text"): "[/spans/*/text] required value is missing "
                          "(expected required, found (absent))",
    }
    # default mode is unchanged: value-free plan constants
    plain = {r.message for r in violations_df(df, rs).collect()}
    assert plain == {
        "[/n] constraint 'maximum' violated",
        "[/lang] value is not in the allowed set",
        "[/spans/*/text] required value is missing",
    }


def test_detail_messages_leave_aggregate_unchanged(spark):
    """The rollup groups on rule_id x severity (the location-free
    message identity, JSONValidator.java:466-481): interpolated detail
    must not perturb it."""
    from json_validator_spark.operators.report import aggregate_report

    df = spark.createDataFrame(
        [(i, i * 37 % 500) for i in range(200)], "doc_id long, n long")
    rs = RuleSet(rules=(Rule("cap", "/n", "maximum", {"value": 250}),))
    plain = rows_set(aggregate_report(violations_df(df, rs)))
    detail = rows_set(aggregate_report(violations_df(df, rs, detail=True)))
    assert plain == detail and plain


def test_string_length_counts_code_points(spark):
    """JSON Schema §6.3.1: string length is the number of CHARACTERS
    (Unicode code points) — astral-plane characters count 1 (not the 2
    UTF-16 units Java's String.length() would report), and a combining
    sequence counts its code points (not grapheme clusters). Spark's
    length() is code-point-based, matching the spec and the DuckDB/
    Python oracles; this pins the engine to that semantics."""
    rows = [
        (0, "\U0001F600"),          # astral emoji: 1 code point
        (1, "a\U0001F600b"),        # 3 code points
        (2, "é"),             # decomposed é: 2 code points
        (3, "\U0001D11E\U0001D11E"),  # two astral clefs: 2 code points
        (4, "ab"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    rs = RuleSet(rules=(
        Rule("min2", "/s", "minLength", {"value": 2}),
        Rule("max2", "/s", "maxLength", {"value": 2}),
    ))
    got = rows_set(violations_df(df, rs).select("doc_id", "rule_id"))
    assert got == {(0, "min2"), (1, "max2")}


def test_unique_items_null_elements_are_values(spark):
    """JSON `null` is a VALUE inside an array (unlike the engine's
    null-column-means-absent contract for top-level properties), so
    `[null, null]` violates uniqueItems per draft 2020-12 §6.4.3 while
    `[null]` and `[]` pass. Spark's array_distinct dedups nulls as
    values, which is exactly the spec semantics — pinned here."""
    rows = [(0, [1, 2]), (1, [1, 1]), (2, [None, None]),
            (3, [None]), (4, [1, None, 1]), (5, [])]
    df = spark.createDataFrame(rows, "doc_id long, a array<int>")
    rs = RuleSet(rules=(Rule("u", "/a", "uniqueItems", {"value": True}),))
    got = sorted(r["doc_id"] for r in violations_df(df, rs).collect())
    assert got == [1, 2, 4]
