"""JSON-Schema document → flat rule table.

The reference's user interface is (document, JSON Schema file): schemas
are parsed by networknt and interpreted per document
(``JSONValidator.java:321-345`` parse, ``:381-397`` evaluate). Here the
same schema DOCUMENT compiles once, at the driver, into the flat
``RuleSet`` this engine executes as Catalyst expressions — so a user of
the reference can point their existing ``schema.json`` at a table whose
columns are the top-level properties and keep their validation
semantics, now as one distributed scan.

Scope: the keyword subset the engine's vocabulary implements (which is
the reference's catalog, ``jsv-messages.properties:1-71``), applied to
a TYPED table: top-level ``properties`` become per-column rules;
object-typed properties map to ``map<string,string>`` columns;
array-typed to array columns. Cross-subschema annotation flow is out of
scope (see README "Draft-2020-12 annotation boundary"). Unknown
keywords raise at compile time — the reference surfaces schema-parse
failures the same way, instead of silently ignoring constraints.

``$ref``/``$defs`` round-trip through the compiler's resolver
(``rules/compiler.resolve_refs``) using the schema's own JSON-pointer
names (``#/$defs/<name>``), cycle guard included.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import urldefrag, urljoin

from json_validator_spark.rules.model import Rule, RuleSet, RuleSetGroup
from json_validator_spark.rules.schema_registry import SchemaRegistry

# Annotation-only keywords: legal everywhere, produce no rule.
# ($anchor/$dynamicAnchor declare addressable names — resolution happens
# in _json_pointer's plain-name branch and the dynamic binding map, the
# keywords themselves emit nothing.)
_ANNOTATIONS = {
    "title", "description", "examples", "default", "$comment", "$schema",
    "$id", "$anchor", "$dynamicAnchor", "deprecated", "x-severity",
    # $defs/definitions are reserved-location keywords with NO assertion
    # semantics (2020-12 §8.2.4): when a subschema (e.g. a document root
    # targeted by $ref/$recursiveRef) carries them, they produce no rule
    # — their members are reachable only through refs, which resolve via
    # _json_pointer regardless of where the holder sits.
    "$defs", "definitions",
    # contentSchema (2019-09+ §8.8.3) is annotation-ONLY by spec — unlike
    # contentEncoding, which this engine cheaply asserts JVM-side, an
    # assertion here would mean decode + re-parse + recursive validate
    # per row; networknt (the reference's validator) also ignores it by
    # default. $vocabulary is meta-schema machinery (2020-12 §8.1) — it
    # appears at the root of registered library/meta documents and
    # selects keyword vocabularies, which this importer fixes statically.
    "contentSchema", "$vocabulary",
}

# subschema keyword -> engine kind for 1:1 scalar keywords
_SCALAR_KEYWORDS = {
    "const": ("const", lambda v: {"value": v}),
    "enum": ("enum", lambda v: {"values": list(v)}),
    "pattern": ("pattern", lambda v: {"regex": v}),
    "format": ("format", lambda v: {"format": v}),
    "minimum": ("minimum", lambda v: {"value": v}),
    "maximum": ("maximum", lambda v: {"value": v}),
    "exclusiveMinimum": ("exclusiveMinimum", lambda v: {"value": v}),
    "exclusiveMaximum": ("exclusiveMaximum", lambda v: {"value": v}),
    "multipleOf": ("multipleOf", lambda v: {"value": v}),
    "minLength": ("minLength", lambda v: {"value": v}),
    "maxLength": ("maxLength", lambda v: {"value": v}),
    "contentEncoding": ("contentEncoding", lambda v: {"encoding": v}),
    "contentMediaType": ("contentMediaType", lambda v: {"media_type": v}),
    "minItems": ("minItems", lambda v: {"value": v}),
    "maxItems": ("maxItems", lambda v: {"value": v}),
    "minProperties": ("minProperties", lambda v: {"value": v}),
    "maxProperties": ("maxProperties", lambda v: {"value": v}),
}

_HANDLED = (
    set(_SCALAR_KEYWORDS)
    | _ANNOTATIONS
    | {
        "type", "uniqueItems", "items", "prefixItems", "contains",
        "minContains", "maxContains", "additionalItems", "propertyNames", "patternProperties",
        "additionalProperties", "properties", "required", "dependentRequired",
        "dependentSchemas", "discriminator", "allOf", "anyOf", "oneOf", "not",
        "$ref", "$dynamicRef", "readOnly", "writeOnly",
        "unevaluatedProperties", "unevaluatedItems", "if", "then", "else",
    }
)


@dataclass
class _ImportCtx:
    """Per-document import context: canonicalizes every ``$ref`` the way
    the reference's resolver does (``LocalSchemaResolver.java:71-85``
    resolves the ref URI against the owning document's ``$id`` before the
    local-cache lookup) and records cross-reference targets for the
    worklist in ``ruleset_from_json_schema``.

    ``prefix`` is None for the ROOT document so same-document refs keep
    their literal ``#/$defs/<n>`` keys (back-compat with hand-built
    definition maps); for a registry document it is that document's
    ``$id``, so its internal refs namespace as ``<id>#/...``."""

    base_uri: str | None = None   # RFC 3986 base for relative refs
    prefix: str | None = None     # key namespace for '#...' refs
    need: set[str] = field(default_factory=set)
    doc: Any = None               # the OWNING document (anchor lookups)
    root_doc: Any = None          # the import's ENTRY document
    dyn: dict[str, str] = field(default_factory=dict)  # $dynamicAnchor bindings
    registry: SchemaRegistry | None = None

    def canon(self, ref: str) -> str:
        if ref.startswith("#"):
            key = ref if self.prefix is None else self.prefix.rstrip("#") + ref
        else:
            doc, frag = urldefrag(urljoin((self.base_uri or "").rstrip("#"), ref))
            if not doc:
                raise ValueError(
                    f"relative $ref {ref!r} with no base $id to resolve against"
                )
            key = f"{doc}#{frag}"
        self.need.add(key)
        return key


def _json_pointer(doc: Any, frag: str, where: str) -> Any:
    """Navigate a ``#/a/b``-style fragment (RFC 6901: ``~1`` → ``/``,
    ``~0`` → ``~``, digits index arrays). Empty fragment = whole doc.
    A PLAIN-NAME fragment (no leading ``/``) is an ``$anchor`` lookup —
    networknt resolves ``other.json#name`` to the subschema declaring
    ``"$anchor": "name"`` (draft-7 ``$id: "#name"`` also accepted)."""
    if frag and not frag.startswith("/"):
        hit = _find_anchor(doc, frag)
        if hit is None:
            raise ValueError(f"$ref {where!r}: no $anchor {frag!r} in document")
        return hit
    node = doc
    for raw in [p for p in frag.split("/") if p != ""]:
        part = raw.replace("~1", "/").replace("~0", "~")
        if isinstance(node, dict) and part in node:
            node = node[part]
        elif isinstance(node, list) and part.isdigit() and int(part) < len(node):
            node = node[int(part)]
        else:
            raise ValueError(f"$ref pointer {where!r}: fragment /{raw} not found")
    return node


def _find_anchor(node: Any, name: str) -> Any:
    """Depth-first search for the subschema declaring ``$anchor: name``
    (draft-7 spelling ``$id: "#name"``, or ``$dynamicAnchor: name`` —
    the 2020-12 spec says a dynamic anchor is ALSO a plain anchor).
    Deterministic: dict insertion order, first hit wins — matching
    networknt's single-anchor expectation (duplicate anchors are a
    schema-authoring error)."""
    if isinstance(node, dict):
        if (
            node.get("$anchor") == name
            or node.get("$id") == f"#{name}"
            or node.get("$dynamicAnchor") == name
        ):
            return node
        for v in node.values():
            hit = _find_anchor(v, name)
            if hit is not None:
                return hit
    elif isinstance(node, list):
        for v in node:
            hit = _find_anchor(v, name)
            if hit is not None:
                return hit
    return None


# Reserved anchor name for the 2019-09 → 2020-12 recursive-ref rewrite.
# Draft 2020-12 renamed $recursiveRef/$recursiveAnchor into the dynamic
# forms (2020-12 Appendix CREF); the restricted 2019-09 semantics map
# exactly onto a $dynamicAnchor with one implicit, spec-reserved name.
_RECURSIVE_NAME = "__recursive2019__"


def _rewrite_recursive_2019(doc: Any) -> Any:
    """2019-09 ``$recursiveRef``/``$recursiveAnchor`` → the 2020-12
    dynamic forms they became: ``$recursiveAnchor: true`` (boolean-only,
    meaningful at the resource root) becomes ``$dynamicAnchor`` with the
    reserved ``__recursive2019__`` name; ``$recursiveRef: "#"`` (the only
    value 2019-09 allows) becomes ``$dynamicRef: "#__recursive2019__"``
    when the containing document's ROOT declares the anchor — the
    bookending precondition — and a plain ``$ref: "#"`` otherwise
    (2019-09 §8.2.4.2: without a root anchor the recursive ref behaves
    as a normal root reference). The entry-chain binding map then gives
    the spec's recursive meta-schema extension pattern for free: the
    outermost document on the $ref-discovery chain declaring the anchor
    wins, exactly as the outermost ``$recursiveAnchor: true`` resource
    would at runtime. The reference accepts 2019-09 schemas through
    networknt's V201909 mode (``JSONValidator.java:321-345`` dialect
    selection). Returns the input object unchanged (same identity) when
    neither keyword occurs."""
    if not isinstance(doc, dict):
        return doc
    root_recursive = doc.get("$recursiveAnchor") is True
    changed = False

    def walk(node: Any) -> Any:
        nonlocal changed
        if isinstance(node, dict):
            out = {}
            for k, v in node.items():
                if k == "$recursiveAnchor":
                    changed = True
                    if not isinstance(v, bool):
                        raise ValueError(
                            "$recursiveAnchor must be a boolean (2019-09 §8.2.4.2.2)"
                        )
                    if v:
                        out["$dynamicAnchor"] = _RECURSIVE_NAME
                    # false is the default: no-op
                elif k == "$recursiveRef":
                    changed = True
                    if v != "#":
                        raise ValueError(
                            f"$recursiveRef value must be '#' (2019-09 "
                            f"§8.2.4.2.1), got {v!r}"
                        )
                    if root_recursive:
                        out["$dynamicRef"] = "#" + _RECURSIVE_NAME
                    else:
                        out["$ref"] = "#"
                else:
                    out[k] = walk(v)
            return out
        if isinstance(node, list):
            return [walk(v) for v in node]
        return node

    rewritten = walk(doc)
    return rewritten if changed else doc


# Keyword positions for the dialect-aware walk in _rewrite_draft4_id:
# values that ARE schemas, maps WHOSE VALUES are schemas (keys are
# user-controlled names — never rewritten), lists of schemas, and
# keywords whose values are DATA (never walked). Anything else passes
# through untouched; a draft-4 `id` hiding under an unlisted keyword
# stays `id` and _check_known raises — strict beats silent.
_SUBSCHEMA_KEYWORDS = {
    "items", "additionalItems", "additionalProperties", "propertyNames",
    "contains", "if", "then", "else", "not",
    "unevaluatedItems", "unevaluatedProperties",
}
_SCHEMA_MAP_KEYWORDS = {
    "properties", "patternProperties", "dependentSchemas", "$defs", "definitions",
}
_SCHEMA_LIST_KEYWORDS = {"allOf", "anyOf", "oneOf", "prefixItems"}
_DATA_KEYWORDS = {"enum", "const", "default", "examples"}


def _is_draft4(doc: Any) -> bool:
    s = doc.get("$schema") if isinstance(doc, dict) else None
    return isinstance(s, str) and "draft-04" in s


def _rewrite_draft4_id(doc: Any) -> Any:
    """Draft-4 spells the base-URI/anchor keyword ``id`` — no ``$``
    (draft-4 core §7.2; renamed ``$id`` in draft-6). networknt's V4 mode
    resolves it like ``$id`` (the reference selects that mode from
    ``$schema``, ``JSONValidator.java:321-345``); without this rewrite a
    draft-4 document registering itself by ``id`` or declaring
    ``id: "#name"`` anchors would fail ``_check_known``. Applied ONLY
    when the document root declares the draft-4 dialect, and only in
    schema positions — a PROPERTY literally named ``id`` (ubiquitous in
    real data) lives as a KEY of ``properties``/``patternProperties``
    maps, which the walk never renames. Returns the input object
    unchanged (same identity) for non-draft-4 documents."""
    if not _is_draft4(doc):
        return doc
    changed = False

    def walk(node: Any) -> Any:  # node sits in a SCHEMA position
        nonlocal changed
        if isinstance(node, list):  # draft-4 tuple `items`
            return [walk(v) for v in node]
        if not isinstance(node, dict):
            return node
        out: dict[str, Any] = {}
        for k, v in node.items():
            if k == "id" and isinstance(v, str):
                changed = True
                out["$id"] = v
            elif k in _SCHEMA_MAP_KEYWORDS and isinstance(v, dict):
                out[k] = {name: walk(sub) for name, sub in v.items()}
            elif k == "dependencies" and isinstance(v, dict):
                # per-name value: list of required names (data) | schema
                out[k] = {
                    name: walk(sub) if isinstance(sub, (dict, bool)) else sub
                    for name, sub in v.items()
                }
            elif k in _SUBSCHEMA_KEYWORDS:
                out[k] = walk(v)
            elif k in _SCHEMA_LIST_KEYWORDS and isinstance(v, list):
                out[k] = [walk(x) for x in v]
            elif k in _DATA_KEYWORDS:
                out[k] = v
            else:
                out[k] = v
        return out

    rewritten = walk(doc)
    return rewritten if changed else doc


def _rewrite_dependencies(doc: Any) -> Any:
    """Draft-4/7 ``dependencies`` → the 2019-09 split spellings this
    importer compiles: array values become ``dependentRequired``
    entries, schema values ``dependentSchemas`` entries (2019-09 core
    changelog; networknt's v4/v7 modes accept the legacy keyword —
    ``JSONValidator.java:321-345`` selects those modes from
    ``$schema``). The keyword was REMOVED in 2019-09, so the rewrite is
    unambiguous in every dialect and applied unconditionally, at every
    schema position (top level included). Identity-preserving when the
    keyword is absent."""
    changed = False

    def walk(node: Any) -> Any:  # node sits in a SCHEMA position
        nonlocal changed
        if isinstance(node, list):
            return [walk(v) for v in node]
        if not isinstance(node, dict):
            return node
        out: dict[str, Any] = {}
        pending_req: dict[str, Any] = {}
        pending_sch: dict[str, Any] = {}
        for k, v in node.items():
            if k == "dependencies" and isinstance(v, dict):
                changed = True
                for name, sub in v.items():
                    if isinstance(sub, list):
                        pending_req[name] = sub
                    else:
                        pending_sch[name] = walk(sub)
            elif k in _SCHEMA_MAP_KEYWORDS and isinstance(v, dict):
                out[k] = {name: walk(sub) for name, sub in v.items()}
            elif k in _SUBSCHEMA_KEYWORDS:
                out[k] = walk(v)
            elif k in _SCHEMA_LIST_KEYWORDS and isinstance(v, list):
                out[k] = [walk(x) for x in v]
            else:
                out[k] = v
        if pending_req:
            out["dependentRequired"] = {**pending_req, **out.get("dependentRequired", {})}
        if pending_sch:
            out["dependentSchemas"] = {**pending_sch, **out.get("dependentSchemas", {})}
        return out

    rewritten = walk(doc)
    return rewritten if changed else doc


def _rewrite_dialects(doc: Any) -> Any:
    """All dialect-normalizing pre-passes, oldest first: draft-4 ``id``
    → ``$id``, draft-4/7 ``dependencies`` → ``dependentRequired``/
    ``dependentSchemas``, then 2019-09 ``$recursiveRef``/
    ``$recursiveAnchor`` → the 2020-12 dynamic forms.
    Identity-preserving when nothing matches."""
    return _rewrite_recursive_2019(_rewrite_dependencies(_rewrite_draft4_id(doc)))


class _Recursive2019Registry:
    """Registry proxy applying ``_rewrite_dialects`` to every resolved
    document, so draft-4 / 2019-09 library schemas compose with a
    2020-12 entry (and vice versa) through one binding map. Caches per
    URI — the importer relies on resolve() returning a stable object."""

    def __init__(self, inner: SchemaRegistry) -> None:
        self._inner = inner
        self._cache: dict[str, Any] = {}

    def resolve(self, uri: str) -> dict[str, Any]:
        if uri not in self._cache:
            self._cache[uri] = _rewrite_dialects(self._inner.resolve(uri))
        return self._cache[uri]

    def __contains__(self, uri: str) -> bool:
        return uri in self._inner


def _check_known(sub: dict[str, Any], where: str) -> None:
    unknown = set(sub) - _HANDLED
    if unknown:
        raise ValueError(
            f"unsupported JSON-Schema keyword(s) at {where}: {sorted(unknown)} "
            "(the engine refuses rather than silently dropping constraints)"
        )


def _scan_anchors_refs(node: Any, anchors: list[str], refs: list[str]) -> None:
    """Pre-order raw-document scan: every ``$dynamicAnchor`` name and
    every ``$ref``/``$dynamicRef`` target string, in document order."""
    if isinstance(node, dict):
        v = node.get("$dynamicAnchor")
        if isinstance(v, str):
            anchors.append(v)
        for kw in ("$ref", "$dynamicRef"):
            r = node.get(kw)
            if isinstance(r, str):
                refs.append(r)
        for val in node.values():
            _scan_anchors_refs(val, anchors, refs)
    elif isinstance(node, list):
        for val in node:
            _scan_anchors_refs(val, anchors, refs)


def _collect_dynamic_bindings(
    schema: dict[str, Any], registry: SchemaRegistry | None
) -> dict[str, str]:
    """The static image of 2020-12 dynamic scope: BFS the raw document
    graph from the ENTRY schema (documents discovered in $ref traversal
    order) and record, for each ``$dynamicAnchor`` name, the FIRST
    declaring document — the outermost resource a runtime dynamic scope
    could contain for that name along the entry's reference chain. This
    binds the spec's canonical extensibility pattern exactly (the
    strict-tree override re-routes tree's ``$dynamicRef: "#node"`` back
    through strict-tree), because the entry chain IS the dynamic scope
    prefix shared by every evaluation path. The approximation being
    static-per-import: two different reference chains inside ONE import
    that should bind the same anchor name to different resources
    collapse to the first-discovered one. Unresolvable documents are
    skipped here — the compile worklist raises the proper inventory
    error for any ref that actually gets compiled."""
    bind: dict[str, str] = {}
    seen_docs: set[str] = set()
    queue: list[tuple[Any, str | None]] = [(schema, None)]
    while queue:
        doc, prefix = queue.pop(0)
        anchors: list[str] = []
        refs: list[str] = []
        _scan_anchors_refs(doc, anchors, refs)
        for name in anchors:
            bind.setdefault(name, f"{prefix or ''}#{name}")
        base = (doc.get("$id") if isinstance(doc, dict) else None) or prefix
        for ref in refs:
            if ref.startswith("#"):
                continue  # same-document: no new resource entered
            target, _frag = urldefrag(urljoin((base or "").rstrip("#"), ref))
            if not target or target in seen_docs or registry is None:
                continue
            seen_docs.add(target)
            try:
                d = registry.resolve(target)
            except KeyError:
                continue
            queue.append((d, (d.get("$id") if isinstance(d, dict) else None) or target))
    return bind


def _dynamic_ref_key(ref: Any, where: str, ctx: _ImportCtx | None) -> str:
    """Compile-time resolution of ``$dynamicRef`` (2020-12 §8.2.3.2):
    the fragment first resolves as a normal anchor in the containing
    document; if (and only if) that initial target declares a matching
    ``$dynamicAnchor`` — the spec's bookending rule — the reference
    re-routes to the binding map's outermost declaration
    (``_collect_dynamic_bindings``); otherwise it behaves as a plain
    ``$ref``. Non-fragment forms (``other.json#name``) are refused
    explicitly rather than mis-resolved."""
    if ctx is None or ctx.doc is None:
        raise ValueError(
            f"$dynamicRef at {where}: requires document context — import the "
            "schema via ruleset_from_json_schema"
        )
    if not (isinstance(ref, str) and ref.startswith("#")) or ref.startswith("#/"):
        raise ValueError(
            f"$dynamicRef at {where}: only plain-name fragments ('#name') are "
            "supported (the bookending rule needs an anchor name)"
        )
    name = ref[1:]
    initial = _find_anchor(ctx.doc, name)
    if initial is None:
        raise ValueError(
            f"$dynamicRef {ref!r} at {where}: no anchor {name!r} in the "
            "containing document"
        )
    if (
        isinstance(initial, dict)
        and initial.get("$dynamicAnchor") == name
        and name in ctx.dyn
    ):
        key = ctx.dyn[name]
        ctx.need.add(key)
        return key
    return ctx.canon(ref)


def _resolve_ref_raw(
    ref: str, is_dynamic: bool, ctx: _ImportCtx, doc: Any, base: str | None
) -> tuple[Any, Any, str | None]:
    """Statically resolve a sibling ``$ref``/``$dynamicRef`` to its RAW
    target subschema: ``(subschema, owning_doc, owning_base)`` — the
    evaluated-set closure needs the uncompiled JSON to read its
    ``properties``/``prefixItems``."""
    if is_dynamic and ref.startswith("#") and not ref.startswith("#/"):
        name = ref[1:]
        initial = _find_anchor(doc, name)
        if initial is None:
            raise ValueError(
                f"$dynamicRef {ref!r}: no anchor {name!r} in the containing document"
            )
        if (
            isinstance(initial, dict)
            and initial.get("$dynamicAnchor") == name
            and name in ctx.dyn
        ):
            key = ctx.dyn[name]
            dpart, _, frag = key.partition("#")
            if dpart == "":
                rd = ctx.root_doc
                rb = rd.get("$id") if isinstance(rd, dict) else None
                return _json_pointer(rd, frag, key), rd, rb
            d = ctx.registry.resolve(dpart)  # bound during BFS -> resolvable
            return _json_pointer(d, frag, key), d, d.get("$id") or dpart
        return initial, doc, base
    if ref.startswith("#"):
        return _json_pointer(doc, ref[1:], ref), doc, base
    target, frag = urldefrag(urljoin((base or "").rstrip("#"), ref))
    if not target:
        raise ValueError(f"relative $ref {ref!r} with no base $id to resolve against")
    if ctx.registry is None:
        raise ValueError(
            f"cross-document $ref {ref!r}: pass a SchemaRegistry with the "
            "preloaded schema set (the reference's shared-schema config, "
            "validator.schemaFile.*)"
        )
    d = ctx.registry.resolve(target)
    return _json_pointer(d, frag, ref), d, d.get("$id") or target


def _evaluated_closure(
    sub: dict[str, Any], ctx: _ImportCtx | None, where: str,
    doc: Any = None, base: str | None = None,
) -> tuple[set[str], set[str], list[int], bool]:
    """Static evaluated-set closure for ``unevaluatedProperties``/
    ``unevaluatedItems``: keys/prefixes contributed by this subschema,
    its literal ``allOf`` members, AND its statically-resolved sibling
    ``$ref``/``$dynamicRef`` targets (transitively, cycle-guarded). All
    of these must validate for the instance to pass, so their
    annotations are exactly the evaluated set networknt's annotation
    flow would produce for the conjunction — this closes the spec's
    canonical strict-tree pattern, where the evaluated keys come from a
    ``$ref`` sibling of ``unevaluatedProperties: false``. Returns
    ``(allowed, patterns, starts, full_items)``; ``full_items`` True
    means some member's non-tuple ``items`` evaluates EVERY element, so
    ``unevaluatedItems`` is a spec no-op. The residue that stays out of
    model is the genuinely dynamic part: contributions from anyOf/oneOf
    branches and if/then that only count when they pass."""
    allowed: set[str] = set()
    patterns: set[str] = set()
    starts = [0]
    full_items = [False]
    seen: set[int] = set()

    def walk(s: Any, doc: Any, base: str | None) -> None:
        if not isinstance(s, dict) or id(s) in seen:
            return
        seen.add(id(s))
        allowed.update(s.get("properties", {}))
        patterns.update(s.get("patternProperties", {}))
        p = s.get("prefixItems")
        if p is None and isinstance(s.get("items"), list):
            p = s["items"]
        starts.append(len(p or []))
        it = s.get("items")
        if isinstance(it, dict) or it is True:
            full_items[0] = True
        for m in s.get("allOf", []):
            walk(m, doc, base)
        if ctx is not None and doc is not None:
            for kw in ("$ref", "$dynamicRef"):
                r = s.get(kw)
                if isinstance(r, str):
                    t, td, tb = _resolve_ref_raw(r, kw == "$dynamicRef", ctx, doc, base)
                    walk(t, td, tb)

    walk(
        sub,
        doc if doc is not None else (ctx.doc if ctx else None),
        base if base is not None else (ctx.base_uri if ctx else None),
    )
    return allowed, patterns, starts, full_items[0]


def _dynamic_contributors(
    sub: dict[str, Any], ctx: _ImportCtx | None, where: str,
    max_depth: int = 4,
) -> list[dict[str, Any]]:
    """Conditional evaluated-set contributors for ``unevaluated*`` — the
    DYNAMIC half of draft-2020-12 annotation flow that
    ``_evaluated_closure`` cannot see statically: keys/prefixes
    contributed by sibling ``anyOf``/``oneOf``/``if``-``then``-``else``/
    ``dependentSchemas`` branches count only on instances where the
    branch validates (and, per the spec's annotation-retention rule, the
    applicator keyword as a whole succeeds — hence the whole-``oneOf``
    exactly-one guard on each ``oneOf`` member, and the
    ``if``-pass / ``if``-fail guards on ``then``/``else``).

    Each contributor is::

        {"when": [node, ...],          # conjunction of pass-predicate nodes
         "allowed": [keys...],         # evaluated property keys
         "allowed_patterns": [rx...],  # evaluated patternProperties regexes
         "start": int,                 # evaluated tuple-prefix length
         "full": bool}                 # a non-tuple `items` evaluates all

    and compiles (``vocabulary.build_pass``) to per-row conditional set
    subtraction / prefix widening — still one codegen projection, no
    UDFs. Branch sets are the branch's own static closure
    (``_evaluated_closure``); dynamics nested INSIDE a branch recurse
    with the guard conjunction extended per level, bounded at
    ``max_depth`` — contributors beyond the bound are dropped, which
    only makes the check STRICTER (the pre-r4 fully-static behavior),
    never looser. Cycle-guarded along each path so diamond ``$ref``
    graphs revisit but true cycles stop."""
    out: list[dict[str, Any]] = []
    keys_seen: set[str] = set()

    def emit(branch: Any, conds: list, depth: int, doc: Any, base: str | None,
             path: frozenset) -> None:
        if depth > max_depth or not isinstance(branch, dict):
            return
        allowed, patterns, starts, full = _evaluated_closure(
            branch, ctx, where, doc=doc, base=base
        )
        start = max(starts)
        if allowed or patterns or start or full:
            c = {
                "when": conds,
                "allowed": sorted(allowed),
                "allowed_patterns": sorted(patterns),
                "start": start,
                "full": full,
            }
            k = json.dumps(c, sort_keys=True, default=str)
            if k not in keys_seen:
                keys_seen.add(k)
                out.append(c)
        spine(branch, conds, depth, doc, base, path)

    def spine(s: Any, conds: list, depth: int, doc: Any, base: str | None,
              path: frozenset) -> None:
        # conjunctive spine: the node itself, literal allOf members and
        # statically-resolved $ref/$dynamicRef targets all MUST apply, so
        # they pass the guard conjunction through unchanged
        if not isinstance(s, dict) or id(s) in path:
            return
        path = path | {id(s)}
        for m in s.get("anyOf", []):
            emit(m, conds + [_node(m, f"{where}/anyOf", ctx)],
                 depth + 1, doc, base, path)
        one = s.get("oneOf")
        if isinstance(one, list) and one:
            one_node = _node({"oneOf": one}, f"{where}/oneOf", ctx)
            for m in one:
                emit(m, conds + [one_node, _node(m, f"{where}/oneOf", ctx)],
                     depth + 1, doc, base, path)
        if "if" in s:
            if_node = _node(s["if"], f"{where}/if", ctx)
            emit(s["if"], conds + [if_node], depth + 1, doc, base, path)
            if "then" in s:
                emit(s["then"],
                     conds + [if_node, _node(s["then"], f"{where}/then", ctx)],
                     depth + 1, doc, base, path)
            if "else" in s:
                not_if = {"kind": "not", "params": {"schema": if_node}}
                emit(s["else"],
                     conds + [not_if, _node(s["else"], f"{where}/else", ctx)],
                     depth + 1, doc, base, path)
        for key, ds in s.get("dependentSchemas", {}).items():
            guard = {"kind": "requiredKey", "params": {"key": key}}
            emit(ds,
                 conds + [guard, _node(ds, f"{where}/dependentSchemas/{key}", ctx)],
                 depth + 1, doc, base, path)
        for m in s.get("allOf", []):
            spine(m, conds, depth, doc, base, path)
        if ctx is not None and doc is not None:
            for kw in ("$ref", "$dynamicRef"):
                r = s.get(kw)
                if isinstance(r, str):
                    t, td, tb = _resolve_ref_raw(r, kw == "$dynamicRef", ctx, doc, base)
                    spine(t, conds, depth, td, tb, path)

    spine(sub, [], 0,
          ctx.doc if ctx else None, ctx.base_uri if ctx else None, frozenset())
    return out


def _normalize_draft4_bounds(sub: dict[str, Any], where: str) -> dict[str, Any]:
    """Draft-4 spells exclusive bounds as a BOOLEAN modifier on the
    sibling ``minimum``/``maximum`` (networknt's v4 mode accepts both
    drafts — ``JSONValidator.java:321-345`` selects the dialect from
    ``$schema``). Rewrite the modifier form into the draft-6+ numeric
    form this importer compiles: ``true`` moves the sibling bound into
    ``exclusiveMinimum/Maximum``; ``false`` is a no-op (inclusive bound
    stays). Boolean without the sibling bound is a draft-4 schema error
    (the spec's MUST) — raise like every other compile-time failure."""
    fixed = None
    for excl, bound in (("exclusiveMinimum", "minimum"),
                        ("exclusiveMaximum", "maximum")):
        v = sub.get(excl)
        if not isinstance(v, bool):
            continue
        if bound not in sub:
            raise ValueError(
                f"draft-4 boolean {excl} at {where} requires a sibling {bound}"
            )
        if fixed is None:
            fixed = dict(sub)
        if v:
            fixed[excl] = fixed.pop(bound)
        else:
            del fixed[excl]
    return sub if fixed is None else fixed


def _applications(
    sub: dict[str, Any], where: str, ctx: _ImportCtx | None = None
) -> list[tuple[str, dict]]:
    """One (kind, params) application per constraint keyword in ``sub``."""
    if sub is True or sub == {}:
        return []
    if sub is False:
        return [("notAllowed", {})]
    _check_known(sub, where)
    sub = _normalize_draft4_bounds(sub, where)
    apps: list[tuple[str, dict]] = []

    if "$ref" in sub:
        ref = sub["$ref"] if ctx is None else ctx.canon(sub["$ref"])
        apps.append(("$ref", {"ref": ref}))
    if "$dynamicRef" in sub:
        apps.append(("$ref", {"ref": _dynamic_ref_key(sub["$dynamicRef"], where, ctx)}))

    for kw, (kind, to_params) in _SCALAR_KEYWORDS.items():
        if kw in sub:
            p = to_params(sub[kw])
            # contentMediaType describes the DECODED content when a
            # sibling contentEncoding is present (2019-09 §8.8.2) — the
            # check needs the transport encoding to decode first.
            if kw == "contentMediaType" and isinstance(
                sub.get("contentEncoding"), str
            ):
                p["encoding"] = sub["contentEncoding"]
            apps.append((kind, p))

    t = sub.get("type")
    if t is not None and t not in ("object", "array"):
        # typed-table columns: scalar type checks only; object/array shape
        # is expressed by the structural keywords below
        if isinstance(t, list):
            scalar_types = [x for x in t if x not in ("object", "array")]
            if scalar_types:
                apps.append(("type", {"types": scalar_types}))
        else:
            apps.append(("type", {"type": t}))

    if sub.get("uniqueItems"):
        apps.append(("uniqueItems", {}))
    # tuple-form positional schemas: 2020-12 `prefixItems`, or draft-4's
    # array-form `items` (with `additionalItems` as the remainder schema)
    prefix = sub.get("prefixItems")
    if prefix is None and isinstance(sub.get("items"), list):
        prefix = sub["items"]
    if prefix is not None:
        apps.append(("prefixItems", {"schemas": [_node(s, f"{where}/prefixItems", ctx) for s in prefix]}))
    remainder = None
    if isinstance(sub.get("items"), (dict, bool)):
        remainder = sub["items"]
    elif "additionalItems" in sub and isinstance(sub.get("items"), list):
        remainder = sub["additionalItems"]
    if remainder is not None:
        p: dict[str, Any] = {"schema": _node(remainder, f"{where}/items", ctx)}
        if prefix is not None:  # items beyond the tuple prefix
            p["start"] = len(prefix)
        apps.append(("items", p))
    if "contains" in sub:
        p = {"schema": _node(sub["contains"], f"{where}/contains", ctx)}
        if "minContains" in sub:
            p["min"] = sub["minContains"]
        if "maxContains" in sub:
            p["max"] = sub["maxContains"]
        apps.append(("contains", p))

    if "propertyNames" in sub:
        pn = sub["propertyNames"]
        if pn in (True, {}) or (isinstance(pn, dict) and not (set(pn) - _ANNOTATIONS)):
            pass  # annotation-only subschema: valid no-op, no rule
        elif not isinstance(pn, dict) or set(pn) - _ANNOTATIONS != {"pattern"}:
            raise ValueError(f"propertyNames at {where} supports only a pattern subschema")
        else:
            apps.append(("propertyNames", {"regex": pn["pattern"]}))
    if "patternProperties" in sub:
        for rx, s in sub["patternProperties"].items():
            apps.append(("patternProperties", {"key_regex": rx, "schema": _node(s, f"{where}/patternProperties", ctx)}))
    if sub.get("additionalProperties") is False:
        apps.append(
            ("additionalProperties", {
                "allowed": sorted(sub.get("properties", {})),
                "allowed_patterns": sorted(sub.get("patternProperties", {})),
            })
        )
    elif isinstance(sub.get("additionalProperties"), dict):
        raise ValueError(
            f"additionalProperties at {where}: only `false` (closed object) is "
            "supported on map-typed columns"
        )
    # unevaluatedProperties/Items — draft-2020-12 annotation flow
    # (jsv-messages.properties:48-49) in two layers:
    #   STATIC: evaluated-key / evaluated-prefix sets unioned across this
    #   subschema, its literal `allOf` members, and its statically-
    #   resolved sibling `$ref`/`$dynamicRef` targets, transitively (all
    #   of which must validate anyway, so the union is exactly the keys
    #   networknt would mark evaluated for the conjunction) —
    #   `_evaluated_closure`.
    #   DYNAMIC (r4): contributions from sibling anyOf/oneOf/if-then-else/
    #   dependentSchemas branches, which count only on instances where
    #   the branch passes, compile as per-row conditional contributors —
    #   `_dynamic_contributors`. The residue that stays out of model is
    #   runtime $dynamicRef rebinding (statically bound instead) — see
    #   README "Draft-2020-12 annotation boundary".
    if sub.get("unevaluatedProperties") is False:
        allowed, patterns, _starts, _full = _evaluated_closure(sub, ctx, where)
        p = {
            "allowed": sorted(allowed),
            "allowed_patterns": sorted(patterns),
        }
        contribs = [
            {"when": c["when"], "allowed": c["allowed"],
             "allowed_patterns": c["allowed_patterns"]}
            for c in _dynamic_contributors(sub, ctx, where)
            if c["allowed"] or c["allowed_patterns"]
        ]
        if contribs:
            p["contributors"] = contribs
        apps.append(("unevaluatedProperties", p))
    elif isinstance(sub.get("unevaluatedProperties"), dict):
        raise ValueError(
            f"unevaluatedProperties at {where}: only `false` is supported"
        )
    if "unevaluatedItems" in sub:
        uitems = sub["unevaluatedItems"]
        if not (uitems is False or isinstance(uitems, dict)):
            raise ValueError(
                f"unevaluatedItems at {where}: must be `false` or a subschema"
            )
        _allowed, _patterns, starts, full = _evaluated_closure(sub, ctx, where)
        if not full:  # a non-tuple `items` in the closure evaluates everything
            p = {
                "schema": _node(uitems, f"{where}/unevaluatedItems", ctx),
                "start": max(starts),
            }
            contribs = [
                {"when": c["when"], "start": c["start"], "full": c["full"]}
                for c in _dynamic_contributors(sub, ctx, where)
                if c["full"] or c["start"] > max(starts)
            ]
            if contribs:
                p["contributors"] = contribs
            apps.append(("unevaluatedItems", p))
    # object keywords apply whenever present — JSON Schema applies
    # `required`/`properties` to any value that IS an object regardless
    # of a declared `type` (including type: ["object","null"] and no
    # type at all); on this engine they target a map-typed column, and
    # a mistargeted column surfaces as an analysis error, never a
    # silently dropped constraint
    for key in sub.get("required", []):
        apps.append(("requiredKey", {"key": key}))
    if "properties" in sub:
        apps.append(
            ("properties", {
                "properties": {k: _node(s, f"{where}/properties/{k}", ctx) for k, s in sub["properties"].items()}
            })
        )
    if "dependentSchemas" in sub:
        for key, s in sub["dependentSchemas"].items():
            apps.append(("dependentSchemas", {"key": key, "schema": _node(s, f"{where}/dependentSchemas", ctx)}))
    if "discriminator" in sub:  # OpenAPI: {propertyName, mapping{value: schema}}
        d = sub["discriminator"]
        if "mapping" not in d:
            raise ValueError(
                f"discriminator at {where}: an explicit `mapping` is required "
                "(implicit schema-name mapping has no referent in a rule table)"
            )
        apps.append(
            ("discriminator", {
                "key": d["propertyName"],
                "mapping": {v: _node(s, f"{where}/discriminator/{v}", ctx) for v, s in d["mapping"].items()},
            })
        )

    if "if" in sub:
        # draft-7 conditionals: verdict = (if ⇒ then) ∧ (¬if ⇒ else).
        # `then`/`else` WITHOUT `if` have no effect by spec (they are
        # ignored applicators, not dropped constraints), so only the
        # `if`-present form emits a rule.
        apps.append(
            ("ifThenElse", {
                "schemas": [
                    _node(sub["if"], f"{where}/if", ctx),
                    _node(sub.get("then", True), f"{where}/then", ctx),
                    _node(sub.get("else", True), f"{where}/else", ctx),
                ]
            })
        )
    for combo in ("allOf", "anyOf", "oneOf"):
        if combo in sub:
            apps.append((combo, {"schemas": [_node(s, f"{where}/{combo}", ctx) for s in sub[combo]]}))
    if "not" in sub:
        apps.append(("not", {"schema": _node(sub["not"], f"{where}/not", ctx)}))
    if sub.get("readOnly"):
        apps.append(("readOnly", {}))
    if sub.get("writeOnly"):
        apps.append(("writeOnly", {}))
    return apps


def _node(sub: Any, where: str, ctx: _ImportCtx | None = None) -> dict[str, Any]:
    """A nested subschema as ONE engine node ({kind, params}); multiple
    keywords wrap in allOf (conjunction — exactly JSON Schema's
    semantics for sibling keywords)."""
    if sub is True or sub == {}:
        return {"kind": "true", "params": {}}
    if sub is False:
        return {"kind": "false", "params": {}}
    apps = _applications(sub, where, ctx)
    if not apps:
        return {"kind": "true", "params": {}}
    if len(apps) == 1:
        kind, params = apps[0]
        return {"kind": kind, "params": params}
    return {
        "kind": "allOf",
        "params": {"schemas": [{"kind": k, "params": p} for k, p in apps]},
    }


# ----------------------------------------------------------------------
# Cross-document resolution + bounded unrolling of recursive schemas
# ----------------------------------------------------------------------

def _resolve_worklist(
    definitions: dict[str, dict[str, Any]],
    ctx: _ImportCtx,
    root: dict[str, Any],
    registry: SchemaRegistry | None,
) -> None:
    """Compile every ``$ref`` target recorded during import into the flat
    ``definitions`` map — the ``LocalSchemaCache`` resolution loop
    (``LocalSchemaCache.java:62-73`` preload-wins;
    ``LocalSchemaResolver.java:71-85`` uri→document→fragment). Foreign
    documents compile under their own ``$id`` namespace so their internal
    refs land on ``<id>#/...`` keys; the loop is a worklist because a
    fragment may itself reference further documents. Deterministic order
    (sorted) so rule tables are reproducible across runs."""
    done = set(definitions)
    while True:
        pending = sorted(ctx.need - done)
        if not pending:
            return
        key = pending[0]
        done.add(key)
        if key in definitions:
            continue
        doc_part, _, frag = key.partition("#")
        if doc_part == "":
            fragment = _json_pointer(root, frag, key)
            sub_ctx = ctx  # same document → same (root) namespace
        else:
            if registry is None:
                raise ValueError(
                    f"cross-document $ref {key!r}: pass a SchemaRegistry with "
                    "the preloaded schema set (the reference's shared-schema "
                    "config, validator.schemaFile.*)"
                )
            doc = registry.resolve(doc_part)  # KeyError lists known $ids
            fragment = _json_pointer(doc, frag, key)
            base = doc.get("$id") or doc_part
            sub_ctx = _ImportCtx(
                base_uri=base, prefix=base, need=ctx.need, doc=doc,
                root_doc=ctx.root_doc, dyn=ctx.dyn, registry=ctx.registry,
            )
        definitions[key] = _node(fragment, key, sub_ctx)


def _ref_targets(node: dict[str, Any], out: set[str]) -> None:
    if node.get("kind") == "$ref":
        out.add(node["params"]["ref"])
        return
    params = node.get("params", {})
    if isinstance(params.get("schema"), dict):
        _ref_targets(params["schema"], out)
    if isinstance(params.get("schemas"), list):
        for s in params["schemas"]:
            if isinstance(s, dict):
                _ref_targets(s, out)
    for holder in ("properties", "mapping"):
        if isinstance(params.get(holder), dict):
            for v in params[holder].values():
                if isinstance(v, dict):
                    _ref_targets(v, out)
    for c in params.get("contributors", []):
        for n in c.get("when", []):
            if isinstance(n, dict):
                _ref_targets(n, out)


def _rewrite_refs(node: dict[str, Any], fn) -> dict[str, Any]:
    """Structurally copy ``node`` mapping every $ref target through
    ``fn``; ``fn`` returning None replaces the ref with the explicit
    recursion-boundary node (fails on any present value — deeper nesting
    surfaces as a violation, never as silently-unchecked data)."""
    if node.get("kind") == "$ref":
        new = fn(node["params"]["ref"])
        if new is None:
            return {
                "kind": "refDepthExceeded",
                "params": {"ref": node["params"]["ref"]},
            }
        return {"kind": "$ref", "params": {**node["params"], "ref": new}}
    params = node.get("params", {})
    np = dict(params)
    if isinstance(params.get("schema"), dict):
        np["schema"] = _rewrite_refs(params["schema"], fn)
    if isinstance(params.get("schemas"), list):
        np["schemas"] = [
            _rewrite_refs(s, fn) if isinstance(s, dict) else s
            for s in params["schemas"]
        ]
    for holder in ("properties", "mapping"):
        if isinstance(params.get(holder), dict):
            np[holder] = {
                k: _rewrite_refs(v, fn) if isinstance(v, dict) else v
                for k, v in params[holder].items()
            }
    if isinstance(params.get("contributors"), list):
        np["contributors"] = [
            {**c, "when": [
                _rewrite_refs(n, fn) if isinstance(n, dict) else n
                for n in c.get("when", [])
            ]}
            for c in params["contributors"]
        ]
    return {**node, "params": np}


def _unroll_definitions(
    definitions: dict[str, dict[str, Any]], max_depth: int
) -> dict[str, dict[str, Any]]:
    """Bounded unrolling of RECURSIVE definitions (the reference's own
    sample schema, ``etc/dev/sample/sample-v1.0/sample.json``, is a
    recursive ``person.children`` — networknt walks it per document;
    this engine's rules are static expressions, so recursion unrolls to
    ``max_depth`` copies ``key@1..key@max_depth`` and the boundary
    becomes an explicit ``refDepthExceeded`` failure). Non-recursive
    definitions are untouched; the original key aliases its depth-1 copy
    so existing rule targets keep working."""
    if max_depth < 1:
        raise ValueError("max_ref_depth must be >= 1")
    graph = {}
    for k, v in definitions.items():
        t: set[str] = set()
        _ref_targets(v, t)
        graph[k] = t & set(definitions)

    def reaches(src: str, dst: str) -> bool:
        seen: set[str] = set()
        stack = list(graph.get(src, ()))
        while stack:
            n = stack.pop()
            if n == dst:
                return True
            if n in seen:
                continue
            seen.add(n)
            stack.extend(graph.get(n, ()))
        return False

    cyclic = {k for k in graph if reaches(k, k)}
    if not cyclic:
        return definitions
    out = dict(definitions)
    for k in cyclic:
        orig = definitions[k]
        for d in range(1, max_depth + 1):
            def repl(ref: str, d: int = d) -> str | None:
                if ref in cyclic:
                    return f"{ref}@{d + 1}" if d < max_depth else None
                return ref
            out[f"{k}@{d}"] = _rewrite_refs(orig, repl)
        out[k] = {"kind": "$ref", "params": {"ref": f"{k}@1"}}
    return out


def _is_element_object_items(items: Any) -> bool:
    """True when an ``items`` subschema describes array elements as
    OBJECTS with named members — the form that must compile to per-field
    span rules (struct-typed elements) rather than the scalar/map inner
    predicate."""
    return isinstance(items, dict) and (
        "properties" in items or isinstance(items.get("required"), list)
    )


def _add_element_object_rules(
    add_span, prop: str, sub: dict, sev: str, ruleset: str, prefix: str,
    where: str, ctx,
) -> dict:
    """Emit span rules for an element-object ``items`` schema and return
    the property subschema with ``items`` stripped (the array-level
    keywords — minItems, uniqueItems… — still flow through
    ``_applications``). Element-object keywords outside
    required/properties would need whole-element semantics the
    struct-element path doesn't model — refuse rather than mis-compile.

    BOUNDARY: this routing applies to a property's DIRECT ``items``
    only. Object schemas under ``contains``/``prefixItems`` (or items
    nested inside combinator leaves) still compile to the map-oriented
    element predicate — correct for ``array<map>`` columns, rejected at
    Spark analysis for ``array<struct>`` (the struct/map distinction is
    a table property the schema document cannot express)."""
    items = sub["items"]
    extra = set(items) - ({"type", "properties", "required"} | _ANNOTATIONS)
    if extra:
        raise ValueError(
            f"items at {where}: element-object form supports type/properties/"
            f"required only, got {sorted(extra)} (strict beats silent)"
        )
    if items.get("type", "object") != "object":
        raise ValueError(
            f"items at {where}: element-object form requires type 'object'"
        )
    for f in items.get("required", []):
        add_span(prop, f, "required", {}, "error", ruleset, prefix)
    for f, fsub in items.get("properties", {}).items():
        if not isinstance(fsub, (dict, bool)):
            raise ValueError(
                f"items property {f!r} at {where}: subschema must be an "
                "object or boolean"
            )
        fsev = fsub.get("x-severity", sev) if isinstance(fsub, dict) else sev
        for kind, params in _applications(
            fsub if isinstance(fsub, dict) else {},
            f"{where}/items/properties/{f}", ctx,
        ):
            add_span(prop, f, kind, params, fsev, ruleset, prefix)
        if fsub is False:
            add_span(prop, f, "forbidden", {}, "error", ruleset, prefix)
    return {k: v for k, v in sub.items() if k != "items"}


def ruleset_from_json_schema(
    schema: dict[str, Any],
    name: str = "imported",
    registry: SchemaRegistry | None = None,
    max_ref_depth: int | None = None,
) -> tuple["RuleSet | RuleSetGroup", dict[str, dict[str, Any]]]:
    """Compile a JSON-Schema OBJECT document (top-level ``type: object``
    with ``properties`` over the table's columns) into ``(RuleSet,
    definitions)`` ready for ``violations_df`` / ``validate_run``.

    Per-keyword rule granularity is preserved (one rule per keyword
    application, ``rule_id = <prop>.<kind>[.n]``) so the report surface
    matches the reference's per-keyword messages. A subschema may set
    ``x-severity: warning|info`` to downgrade all its rules.

    Top-level ``allOf`` members (object schemas) merge into the main
    rule set; a top-level ``anyOf``/``oneOf`` of object schemas becomes
    the schema-set combination the engine already executes
    (``Combination.ANY``/``ONE_OF`` branches — the reference's
    ALL/ANY/ONE_OF approach, ``JSONValidator.java:252-296``); the
    result is then a ``RuleSetGroup`` conjoining the main rules with the
    combinator branches. Any OTHER top-level constraint keyword raises:
    the engine refuses rather than silently dropping a constraint.

    ``registry`` enables cross-document ``$ref`` (``$ref:
    "https://other-id#/..."`` or a relative URI against this document's
    ``$id``) resolved from the preloaded ``$id → document`` map — the
    ``LocalSchemaCache`` semantics. ``max_ref_depth`` opts into bounded
    unrolling of RECURSIVE schemas (otherwise a cycle raises at compile
    time, never loops or silently passes).

    2020-12 ``$dynamicRef``/``$dynamicAnchor`` are supported with a
    static entry-chain binding: each dynamic anchor name binds to its
    outermost declaration in $ref-discovery order from THIS entry schema
    (``_collect_dynamic_bindings``), the spec's bookending rule is
    honored per occurrence (``_dynamic_ref_key``), and the canonical
    strict-tree extensibility pattern — an entry-side override re-routing
    a library's recursive ``$dynamicRef`` — compiles to the overriding
    definitions (recursion still bounded by ``max_ref_depth``)."""
    from json_validator_spark.rules.model import Combination

    schema = _rewrite_dialects(schema)
    if registry is not None and not isinstance(registry, _Recursive2019Registry):
        registry = _Recursive2019Registry(registry)

    _TOP_LEVEL = {"type", "properties", "required", "$defs", "definitions",
                  "dependentRequired", "allOf", "anyOf", "oneOf"} | _ANNOTATIONS
    unknown_top = set(schema) - _TOP_LEVEL
    if unknown_top:
        raise ValueError(
            f"unsupported top-level keyword(s): {sorted(unknown_top)} "
            "(the engine refuses rather than silently dropping constraints)"
        )
    if schema.get("type", "object") != "object" or "properties" not in schema:
        raise ValueError("top-level schema must be an object with `properties`")
    if "anyOf" in schema and "oneOf" in schema:
        raise ValueError("top-level anyOf and oneOf together are not supported")

    ctx = _ImportCtx(
        base_uri=schema.get("$id"), prefix=None, doc=schema, root_doc=schema,
        dyn=_collect_dynamic_bindings(schema, registry), registry=registry,
    )
    definitions: dict[str, dict[str, Any]] = {}
    # 2020-12 `$defs` and draft-4/7 `definitions` (the reference's own
    # sample schema uses the latter) — keys keep the document's spelling
    for holder in ("$defs", "definitions"):
        for dn, ds in schema.get(holder, {}).items():
            definitions[f"#/{holder}/{dn}"] = _node(ds, f"#/{holder}/{dn}", ctx)

    rules: list[Rule] = []
    seen: dict[str, int] = {}

    def add(prop: str, kind: str, params: dict, severity: str,
            ruleset: str = "default", prefix: str = "") -> None:
        base = f"{prefix}{prop}.{kind}"
        n = seen.get(base, 0)
        seen[base] = n + 1
        rules.append(
            Rule(base if n == 0 else f"{base}.{n}", f"/{prop}", kind, params,
                 severity=severity, ruleset=ruleset)
        )

    def add_span(prop: str, fld: str, kind: str, params: dict, severity: str,
                 ruleset: str = "default", prefix: str = "") -> None:
        base = f"{prefix}{prop}.items.{fld}.{kind}"
        n = seen.get(base, 0)
        seen[base] = n + 1
        rules.append(
            Rule(base if n == 0 else f"{base}.{n}", f"/{prop}/*/{fld}", kind,
                 params, severity=severity, ruleset=ruleset)
        )

    def add_object_schema(obj: dict[str, Any], where: str,
                          ruleset: str = "default", prefix: str = "") -> None:
        for prop in obj.get("required", []):
            add(prop, "required", {}, "error", ruleset, prefix)
        for prop, deps in obj.get("dependentRequired", {}).items():
            for dep in deps:
                add(dep, "dependentRequired", {"if_target": f"/{prop}"},
                    "error", ruleset, prefix)
        for prop, sub in obj.get("properties", {}).items():
            if not isinstance(sub, (dict, bool)):
                raise ValueError(f"property {prop!r}: subschema must be an object or boolean")
            sev = sub.get("x-severity", "error") if isinstance(sub, dict) else "error"
            if isinstance(sub, dict) and _is_element_object_items(sub.get("items")):
                # `items` describing array ELEMENTS as objects (the
                # spans-shaped `array<struct>` columns of the input
                # table, or `array<map>`): compile to the engine's
                # native per-field SPAN rules (`/prop/*/field` — indexed
                # JSON-pointer locations, `compiler.span_violation_expr`)
                # instead of the map-oriented inner-items predicate,
                # which cannot evaluate struct elements. networknt
                # reports the same nested paths per element
                # (`JSONValidator.java:461-465` location strings).
                sub = _add_element_object_rules(
                    add_span, prop, sub, sev, ruleset, prefix,
                    f"{where}/properties/{prop}", ctx,
                )
            for kind, params in _applications(
                sub if isinstance(sub, dict) else {}, f"{where}/properties/{prop}", ctx
            ):
                add(prop, kind, params, sev, ruleset, prefix)
            if sub is False:
                add(prop, "notAllowed", {}, "error", ruleset, prefix)

    add_object_schema(schema, "#")
    for i, member in enumerate(schema.get("allOf", [])):
        _require_object_member(member, f"#/allOf/{i}")
        add_object_schema(member, f"#/allOf/{i}", prefix=f"allOf{i}.")

    main = RuleSet(rules=tuple(rules), name=name)

    combo_kw = "anyOf" if "anyOf" in schema else ("oneOf" if "oneOf" in schema else None)
    if combo_kw is None:
        _resolve_worklist(definitions, ctx, schema, registry)
        if max_ref_depth is not None:
            definitions = _unroll_definitions(definitions, max_ref_depth)
        return main, definitions
    rules = []
    for i, member in enumerate(schema[combo_kw]):
        _require_object_member(member, f"#/{combo_kw}/{i}")
        n_before = len(rules)
        add_object_schema(member, f"#/{combo_kw}/{i}",
                          ruleset=f"branch{i}", prefix=f"{combo_kw}{i}.")
        if len(rules) == n_before:
            # An all-annotation / object-array-type-only member compiles
            # to zero rules, but the branch must still EXIST in the
            # combination algebra: networknt counts an always-pass branch
            # as a match (``JSONValidator.java:259-278``), so a oneOf
            # with two permissive members is "matches more than one
            # configured schema", not a degenerate single-branch ALL, and
            # an anyOf with a permissive member always matches. Anchor
            # the branch label with the vocabulary's never-firing `true`
            # rule at the document root.
            rules.append(
                Rule(f"{combo_kw}{i}.true", "/", "true", {},
                     severity="error", ruleset=f"branch{i}")
            )
    branches = RuleSet(
        rules=tuple(rules),
        combination=Combination.ANY if combo_kw == "anyOf" else Combination.ONE_OF,
        name=f"{name}-{combo_kw}",
    )
    _resolve_worklist(definitions, ctx, schema, registry)
    if max_ref_depth is not None:
        definitions = _unroll_definitions(definitions, max_ref_depth)
    return RuleSetGroup(groups=(main, branches), name=name), definitions


def _require_object_member(member: Any, where: str) -> None:
    if not isinstance(member, dict) or not (
        set(member) <= {"type", "properties", "required", "dependentRequired"} | _ANNOTATIONS
    ):
        raise ValueError(
            f"combinator member at {where} must be an object schema using only "
            "type/properties/required/dependentRequired"
        )
