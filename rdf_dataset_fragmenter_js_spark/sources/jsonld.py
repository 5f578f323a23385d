"""JSON-LD source (``lib/io/QuadSourceFile.ts:19-25`` delegates ``.jsonld``
to rdf-parse, which routes it to jsonld-streaming-parser). Driver/executor
per-file parsing like the Turtle and RDF/XML sources (a JSON document is
not line-splittable), built on stdlib ``json``.

Coverage — the JSON-LD core that appears in real data documents:

* expanded form (``@id`` / ``@type`` / ``@value`` / ``@language`` /
  ``@list`` / ``@graph`` objects and arrays);
* compacted form with an INLINE ``@context``: term → IRI mappings,
  compact IRIs (``prefix:suffix``), expanded term definitions with
  ``@id`` / ``@type`` (coercion, incl. ``@id``) / ``@container``
  (``@list`` / ``@set``), ``@vocab``, ``@base``, ``@language``, and
  array-of-contexts;
* top-level / named ``@graph`` (quads carry the graph IRI);
* blank nodes via ``_:label`` identifiers and fresh labels for
  anonymous nodes (PN_CHARS-only, namespaced per file by
  ``sources/driverfile.py`` for multi-file reads);
* JSON literals: numbers → ``xsd:integer`` / ``xsd:double`` (canonical
  exponent form per the JSON-LD toRDF algorithm), booleans →
  ``xsd:boolean``;
* JSON-LD 1.1: ``@reverse`` (node key and term definitions), ``@nest``
  (node key and term-definition passthrough), ``@included`` blocks,
  container maps (``@index`` / ``@language`` / ``@id`` / ``@type``,
  incl. ``@none`` keys and ``["@set", ...]`` forms), ``@graph``
  containers (fresh-bnode-named graphs) incl. the composite
  ``["@graph", "@id"]`` (map keys name the graphs) and
  ``["@graph", "@index"]`` forms, ``@json`` literals
  (``rdf:JSON`` datatype, RFC 8785 JCS lexical form with ECMAScript
  number formatting), ``@direction`` accepted-and-dropped (toRDF's
  default ``rdfDirection: null`` mode — what the reference's
  jsonld-streaming-parser route does), and the inert context keywords
  ``@version`` / ``@protected`` / ``@prefix``.

Exotic features fail fast with a targeted message instead of silently
mis-parsing: REMOTE contexts (a context URL — the engine does no network
I/O; pass them offline via the ``contexts=`` documentLoader mapping)
and framing documents.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

_KEYWORDS = {
    "@id", "@type", "@value", "@language", "@list", "@set", "@graph",
    "@context", "@base", "@vocab", "@index", "@reverse", "@nest",
    "@included",
}
_ABSOLUTE_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _es_number(x) -> str:
    """ECMAScript ``Number::toString`` for a JSON number — the serialization
    RFC 8785 (JCS) §3.2.2.3 requires. Python's ``repr`` supplies the same
    shortest round-trip digits as ES; this applies ES's fixed/exponential
    placement rules (fixed for 1e-6 ≤ |x| < 1e21, exponential outside)."""
    if isinstance(x, int) and not isinstance(x, bool):
        return str(x)
    if math.isnan(x) or math.isinf(x):
        raise ValueError("NaN/Infinity are not valid JSON numbers")
    if x == 0.0:
        return "0"  # ES ToString(-0) is "0"
    sign = "-" if x < 0 else ""
    tup = Decimal(repr(abs(x))).as_tuple()
    digits = "".join(map(str, tup.digits)).rstrip("0") or "0"
    n = tup.exponent + len(tup.digits)  # value = 0.<digits> * 10**n
    k = len(digits)
    if k <= n <= 21:
        s = digits + "0" * (n - k)
    elif 0 < n <= 21:
        s = digits[:n] + "." + digits[n:]
    elif -6 < n <= 0:
        s = "0." + "0" * (-n) + digits
    else:
        mantissa = digits[0] + ("." + digits[1:] if k > 1 else "")
        s = f"{mantissa}e{'+' if n - 1 >= 0 else '-'}{abs(n - 1)}"
    return sign + s


def _jcs(v) -> str:
    """RFC 8785 JSON Canonicalization Scheme — the lexical form of an
    ``rdf:JSON`` literal (JSON-LD 1.1 toRDF step for ``@json`` values).
    Object keys sort by UTF-16 code units (surrogate order differs from
    code-point order above U+FFFF), strings use JSON's minimal escapes
    (``json.dumps`` matches JCS exactly), numbers use ES formatting."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (int, float)):
        return _es_number(v)
    if isinstance(v, list):
        return "[" + ",".join(_jcs(item) for item in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: kv[0].encode("utf-16-be"))
        return "{" + ",".join(
            json.dumps(k, ensure_ascii=False) + ":" + _jcs(val)
            for k, val in items
        ) + "}"
    raise ValueError(f"not a JSON value: {type(v).__name__}")


def _canonical_double(x: float) -> str:
    """JSON-LD toRDF canonical xsd:double lexical form (XSD canonical:
    one nonzero digit, mantissa, 'E', exponent)."""
    if math.isinf(x) or math.isnan(x):
        return "INF" if x > 0 else ("-INF" if x < 0 else "NaN")
    m = f"{x:.15E}"
    mant, exp = m.split("E")
    mant = mant.rstrip("0")
    if mant.endswith("."):
        mant += "0"
    return f"{mant}E{int(exp)}"


class _Context:
    __slots__ = ("terms", "vocab", "base", "language")

    def __init__(self, terms=None, vocab=None, base=None, language=None):
        self.terms = dict(terms or {})
        self.vocab = vocab
        self.base = base
        self.language = language

    def child(self):
        return _Context(self.terms, self.vocab, self.base, self.language)


class _Parser:
    def __init__(self, base_iri: str | None, contexts: dict | None = None):
        self.base_iri = base_iri
        #: offline documentLoader: context URL → parsed context JSON (dict,
        #: list, or a full {"@context": ...} wrapper)
        self.contexts = contexts or {}
        self.quads: list[tuple] = []
        self._bnode_n = 0
        self._bnode_map: dict[str, str] = {}

    def _fresh_bnode(self) -> str:
        self._bnode_n += 1
        return f"genid_jsonld_{self._bnode_n}"

    def _emit(self, s_type, s, p, o_type, o, dt=None, lang=None, g=None):
        self.quads.append((s_type, s, p, o_type, o, dt, lang, g, len(self.quads)))

    # -- context ----------------------------------------------------------

    def parse_context(self, ctx_json, ctx: _Context) -> _Context:
        if ctx_json is None:
            return _Context(base=ctx.base)  # null context resets
        if isinstance(ctx_json, list):
            for part in ctx_json:
                ctx = self.parse_context(part, ctx)
            return ctx
        if isinstance(ctx_json, str):
            if ctx_json in self.contexts:
                resolved = self.contexts[ctx_json]
                if isinstance(resolved, dict) and "@context" in resolved:
                    resolved = resolved["@context"]
                return self.parse_context(resolved, ctx)
            raise NotImplementedError(
                f"remote @context {ctx_json!r} is not supported (the engine "
                "does no network I/O) — inline the context, or pass it "
                "offline via the contexts= mapping (documentLoader style)"
            )
        if not isinstance(ctx_json, dict):
            raise ValueError(f"invalid @context: {ctx_json!r}")
        out = ctx.child()
        if "@base" in ctx_json:
            b = ctx_json["@base"]
            out.base = self._expand_iri(b, out, vocab=False) if b else None
        if "@vocab" in ctx_json:
            out.vocab = ctx_json["@vocab"]
        if "@language" in ctx_json:
            out.language = ctx_json["@language"]
        # two passes so compact-IRI term values can reference sibling terms
        for _ in range(2):
            for term, definition in ctx_json.items():
                if term.startswith("@"):
                    # @version/@propagate/@protected are processing-mode
                    # flags with no effect on toRDF output — accepted inert.
                    # @direction too: toRDF's default mode (rdfDirection
                    # null — jsonld-streaming-parser's default on the
                    # reference's rdf-parse route) drops base direction.
                    if term not in (
                        "@base", "@vocab", "@language", "@direction",
                        "@version", "@propagate", "@protected",
                    ):
                        raise NotImplementedError(
                            f"@context keyword {term!r} is not supported"
                        )
                    continue
                if isinstance(definition, str):
                    out.terms[term] = {"@id": self._expand_iri(definition, out, vocab=True)}
                elif isinstance(definition, dict):
                    bad = set(definition) - {
                        "@id", "@type", "@container", "@language",
                        "@direction", "@reverse", "@nest", "@protected",
                        "@prefix",
                    }
                    if bad:
                        raise NotImplementedError(
                            f"term definition keys {sorted(bad)} are not supported"
                        )
                    container = self._normalize_container(definition.get("@container"))
                    if "@reverse" in definition:
                        if "@id" in definition:
                            raise ValueError(
                                f"term {term!r} has both @id and @reverse"
                            )
                        if container not in (None, "@index"):
                            raise ValueError(
                                f"reverse term {term!r} only allows "
                                "@set/@index containers"
                            )
                        d = {
                            "@id": self._expand_iri(
                                definition["@reverse"], out, vocab=True
                            ),
                            "reverse": True,
                        }
                    else:
                        d = {
                            "@id": self._expand_iri(
                                definition.get("@id", term), out, vocab=True
                            )
                        }
                    if "@type" in definition:
                        t = definition["@type"]
                        d["@type"] = (
                            t if t in ("@id", "@json")
                            else self._expand_iri(t, out, vocab=True)
                        )
                    if container:
                        d["@container"] = container
                    if "@language" in definition:
                        d["@language"] = definition["@language"]
                    out.terms[term] = d
                elif definition is None:
                    out.terms.pop(term, None)
                else:
                    raise ValueError(f"invalid term definition for {term!r}")
        return out

    @staticmethod
    def _normalize_container(container):
        """``@container`` → one of None/@list/@index/@language/@id/@type/
        @graph/@graph@id/@graph@index. JSON-LD 1.1 array forms combine
        with ``@set`` (order-insensitive) and ``@graph`` composes with
        ``@id``/``@index`` (named-graph maps); ``@set`` alone is a no-op
        for toRDF."""
        if isinstance(container, list):
            rest = sorted(c for c in container if c != "@set")
            if rest == ["@graph", "@id"]:
                return "@graph@id"
            if rest == ["@graph", "@index"]:
                return "@graph@index"
            if len(rest) > 1:
                raise NotImplementedError(
                    f"@container combination {container!r} is not supported"
                )
            container = rest[0] if rest else None
        if container == "@set":
            container = None
        if container not in (
            None, "@list", "@index", "@language", "@id", "@type", "@graph",
        ):
            raise NotImplementedError(f"@container {container!r} is not supported")
        return container

    # -- IRI expansion -----------------------------------------------------

    def _expand_iri(self, value: str, ctx: _Context, vocab: bool) -> str:
        if not isinstance(value, str):
            # spec: @type entries / term mappings must be strings
            raise ValueError(f"expected an IRI/term string, got {value!r}")
        if value.startswith("@"):
            return value
        if value.startswith("_:"):
            return value
        if vocab and value in ctx.terms:
            return ctx.terms[value]["@id"]
        if ":" in value:
            prefix, suffix = value.split(":", 1)
            if not suffix.startswith("//") and prefix in ctx.terms:
                return ctx.terms[prefix]["@id"] + suffix
            if _ABSOLUTE_IRI.match(value):
                return value
        if vocab and ctx.vocab:
            return ctx.vocab + value
        base = ctx.base if ctx.base is not None else self.base_iri
        if base is not None:
            from rdf_dataset_fragmenter_js_spark.functions.iri import resolve_iri

            return resolve_iri(value, base)
        return value

    def _subject_term(self, identifier: str | None, ctx: _Context) -> tuple[str, str]:
        if identifier is None:
            return ("BlankNode", self._fresh_bnode())
        if not isinstance(identifier, str):
            # spec: an @id value must be a string (invalid-@id-value error)
            raise ValueError(f"@id must be a string, got {identifier!r}")
        if identifier.startswith("_:"):
            label = identifier[2:]
            # relabel to PN_CHARS-safe, collision-free space shared with
            # generated labels
            return ("BlankNode", self._bnode_map.setdefault(label, f"b_{label}"))
        return ("NamedNode", self._expand_iri(identifier, ctx, vocab=False))

    # -- node processing ---------------------------------------------------

    def process_document(self, doc) -> None:
        if isinstance(doc, list):
            for item in doc:
                self.process_document(item)
            return
        if not isinstance(doc, dict):
            raise ValueError(f"JSON-LD document must be object/array, got {type(doc).__name__}")
        ctx = self.parse_context(doc.get("@context"), _Context())
        if "@graph" in doc and not any(
            k for k in doc if k not in ("@context", "@graph", "@id")
        ):
            graph_iri = None
            if "@id" in doc:
                g_type, g_val = self._subject_term(doc["@id"], ctx)
                # bnode graph names keep the '_:' marker in-band (quads.py)
                graph_iri = g_val if g_type == "NamedNode" else "_:" + g_val
            nodes = doc["@graph"]
            for node in nodes if isinstance(nodes, list) else [nodes]:
                self.node(node, ctx, graph_iri)
            return
        self.node(doc, ctx, None)

    def node(self, obj: dict, ctx: _Context, graph: str | None) -> tuple[str, str]:
        if not isinstance(obj, dict):
            raise ValueError(f"expected node object, got {obj!r}")
        if "@context" in obj:
            ctx = self.parse_context(obj["@context"], ctx)
        subj = self._subject_term(obj.get("@id"), ctx)

        types = obj.get("@type", [])
        for t in types if isinstance(types, list) else [types]:
            self._emit(
                subj[0], subj[1], RDF_NS + "type",
                "NamedNode", self._expand_iri(t, ctx, vocab=True), g=graph,
            )

        self._process_properties(obj, subj, ctx, graph)
        return subj

    def _process_properties(self, obj: dict, subj, ctx: _Context, graph) -> None:
        """Emit the quads for a node object's (non-``@type``) properties
        against ``subj`` — factored out so ``@nest`` objects can replay
        their entries on the parent subject."""
        for key, raw in obj.items():
            if key in _KEYWORDS or key.startswith("@"):
                if key == "@graph":  # named graph nested under a node @id
                    inner = raw if isinstance(raw, list) else [raw]
                    g = subj[1] if subj[0] == "NamedNode" else "_:" + subj[1]
                    for n in inner:
                        self.node(n, ctx, g)
                elif key == "@included":  # extra top-level-like nodes
                    for n in raw if isinstance(raw, list) else [raw]:
                        self.node(n, ctx, graph)
                elif key == "@reverse":
                    if not isinstance(raw, dict):
                        raise ValueError(f"@reverse must be a map, got {raw!r}")
                    for rkey, rraw in raw.items():
                        rdef = ctx.terms.get(rkey, {})
                        pred = (
                            rdef.get("@id")
                            if rkey in ctx.terms
                            else self._expand_iri(rkey, ctx, vocab=True)
                        )
                        if not (_ABSOLUTE_IRI.match(pred) or pred.startswith("_:")):
                            continue
                        for value in rraw if isinstance(rraw, list) else [rraw]:
                            self._reverse_object(subj, pred, value, rdef, ctx, graph)
                elif key == "@nest":
                    self._process_nest(raw, subj, ctx, graph)
                continue
            term_def = ctx.terms.get(key, {})
            pred = term_def.get("@id") if key in ctx.terms else self._expand_iri(key, ctx, vocab=True)
            if pred == "@nest":  # nest-alias term: replay on the parent
                self._process_nest(raw, subj, ctx, graph)
                continue
            if not (_ABSOLUTE_IRI.match(pred) or pred.startswith("_:")):
                continue  # term does not expand to an IRI → dropped (spec)
            if raw is None:
                continue  # null value → entry removed (expansion algorithm)
            container = term_def.get("@container")
            if term_def.get("@type") == "@json":
                # expansion step 13.4.7.1: the ENTIRE raw value becomes ONE
                # {"@value": value, "@type": "@json"} map — an array is the
                # literal's content, not a value list; a @list container
                # then wraps that single rdf:JSON literal
                if term_def.get("reverse"):
                    raise ValueError(
                        f"invalid reverse property value for {pred!r}: "
                        "@json values are literals"
                    )
                if container not in (None, "@list"):
                    raise NotImplementedError(
                        f"@json with @container {container!r} is not supported"
                    )
                lex = _jcs(raw)
                if container == "@list":
                    head = self._fresh_bnode()
                    self._emit(subj[0], subj[1], pred, "BlankNode", head, g=graph)
                    self._emit(
                        "BlankNode", head, RDF_NS + "first",
                        "Literal", lex, RDF_NS + "JSON", g=graph,
                    )
                    self._emit(
                        "BlankNode", head, RDF_NS + "rest",
                        "NamedNode", RDF_NS + "nil", g=graph,
                    )
                else:
                    self._emit(
                        subj[0], subj[1], pred,
                        "Literal", lex, RDF_NS + "JSON", g=graph,
                    )
                continue
            if isinstance(raw, dict) and container in ("@index", "@language", "@id", "@type"):
                raw = self._expand_container_map(container, raw, ctx)
            values = [v for v in (raw if isinstance(raw, list) else [raw]) if v is not None]
            if container in ("@graph", "@graph@id", "@graph@index"):
                # 1.1 graph containers: each value is (or wraps into) a
                # graph object; toRDF links subj --pred--> the graph name
                # and the value's triples land inside that named graph.
                # Plain @graph and @graph+@index name the graph with a
                # FRESH blank node per value (@index keys are semantics-
                # free in toRDF's default mode); @graph+@id names it with
                # the map key expanded as an @id (the @none key falls back
                # to a fresh blank node).
                if container != "@graph" and isinstance(raw, dict):
                    entries = [
                        (k if container == "@graph@id" else None, v)
                        for k, vs in raw.items()
                        for v in (vs if isinstance(vs, list) else [vs])
                        if v is not None
                    ]
                else:
                    entries = [(None, v) for v in values]
                for key, value in entries:
                    if key is None or key == "@none":
                        gterm = ("BlankNode", self._fresh_bnode())
                    else:
                        gterm = self._subject_term(key, ctx)
                    self._emit(subj[0], subj[1], pred, gterm[0], gterm[1], g=graph)
                    inner_g = (
                        gterm[1] if gterm[0] == "NamedNode" else "_:" + gterm[1]
                    )
                    if isinstance(value, dict) and "@graph" in value and not any(
                        k for k in value if k not in ("@context", "@graph", "@index")
                    ):
                        ictx = ctx
                        if "@context" in value:
                            ictx = self.parse_context(value["@context"], ctx)
                        nodes = value["@graph"]
                        for n in nodes if isinstance(nodes, list) else [nodes]:
                            self.node(n, ictx, inner_g)
                    else:
                        self.node(value, ctx, inner_g)
                continue
            if term_def.get("reverse"):
                for value in values:
                    self._reverse_object(subj, pred, value, term_def, ctx, graph)
                continue
            if container == "@list":
                self._emit_list(subj, pred, values, term_def, ctx, graph)
                continue
            for value in values:
                self._object(subj, pred, value, term_def, ctx, graph)

    def _process_nest(self, raw, subj, ctx: _Context, graph) -> None:
        """``@nest`` groups properties visually without changing the graph:
        each nested map's entries are emitted against the PARENT subject."""
        for nested in raw if isinstance(raw, list) else [raw]:
            if not isinstance(nested, dict) or "@value" in nested:
                raise ValueError(
                    f"@nest value must be a node-like map, got {nested!r}"
                )
            nctx = ctx
            if "@context" in nested:
                nctx = self.parse_context(nested["@context"], ctx)
            self._process_properties(nested, subj, nctx, graph)

    def _expand_container_map(self, container: str, raw: dict, ctx: _Context) -> list:
        """Flatten a 1.1 container map to the plain value list the normal
        object path consumes. ``@index`` keys are semantics-free in toRDF;
        ``@language``/``@id``/``@type`` keys fold INTO each value; the
        ``@none`` key means "no index/language/id/type"."""
        out = []
        for k, vs in raw.items():
            for v in vs if isinstance(vs, list) else [vs]:
                if v is None:
                    continue
                if container == "@index":
                    out.append(v)
                elif container == "@language":
                    if not isinstance(v, str):
                        raise ValueError(
                            f"@language map values must be strings, got {v!r}"
                        )
                    # the expansion algorithm lowercases language-map keys
                    # (JSON-LD 1.1 §expansion, language map step) — an
                    # 'EN-US' key must come out as the 'en-us' tag
                    out.append(
                        {"@value": v}
                        if k == "@none"
                        else {"@value": v, "@language": k.lower()}
                    )
                elif container == "@id":
                    if isinstance(v, str):
                        v = {"@id": v}
                    if not isinstance(v, dict):
                        raise ValueError(f"@id map values must be node objects, got {v!r}")
                    if k != "@none" and "@id" not in v:
                        v = {**v, "@id": k}
                    out.append(v)
                else:  # @type map
                    if isinstance(v, str):
                        v = {"@id": v}
                    if not isinstance(v, dict):
                        raise ValueError(f"@type map values must be node objects, got {v!r}")
                    if k != "@none":
                        prev = v.get("@type", [])
                        prev = prev if isinstance(prev, list) else [prev]
                        if k not in prev:
                            v = {**v, "@type": [k] + prev}
                    out.append(v)
        return out

    def _reverse_object(self, subj, pred, value, term_def, ctx, graph) -> None:
        """``@reverse`` semantics: the VALUE becomes the triple's subject
        and the current node its object. Literal values are invalid
        (JSON-LD 'invalid reverse property value')."""
        if isinstance(value, dict):
            if "@value" in value or "@list" in value:
                raise ValueError(
                    f"invalid reverse property value for {pred!r}: literals/"
                    "lists cannot be reversed"
                )
            if set(value) <= {"@id"} and "@id" in value:
                o = self._subject_term(value["@id"], ctx)
            else:
                o = self.node(value, ctx, graph)
        elif isinstance(value, str):
            if term_def.get("@type") == "@id" or _ABSOLUTE_IRI.match(value) or value.startswith("_:"):
                o = self._subject_term(value, ctx)
            else:
                raise ValueError(
                    f"invalid reverse property value for {pred!r}: {value!r} "
                    "is a string literal (reverse values must be nodes)"
                )
        else:
            raise ValueError(
                f"invalid reverse property value for {pred!r}: {value!r}"
            )
        self._emit(o[0], o[1], pred, subj[0], subj[1], g=graph)

    def _emit_list(self, subj, pred, values, term_def, ctx, graph) -> None:
        values = [v for v in values if v is not None]  # expansion null-drop
        if not values:
            self._emit(subj[0], subj[1], pred, "NamedNode", RDF_NS + "nil", g=graph)
            return
        heads = [self._fresh_bnode() for _ in values]
        self._emit(subj[0], subj[1], pred, "BlankNode", heads[0], g=graph)
        for i, (value, head) in enumerate(zip(values, heads)):
            self._object(("BlankNode", head), RDF_NS + "first", value, term_def, ctx, graph)
            if i + 1 < len(heads):
                self._emit("BlankNode", head, RDF_NS + "rest", "BlankNode", heads[i + 1], g=graph)
            else:
                self._emit("BlankNode", head, RDF_NS + "rest", "NamedNode", RDF_NS + "nil", g=graph)

    def _object(self, subj, pred, value, term_def, ctx, graph) -> None:
        if isinstance(value, dict):
            if "@list" in value:
                items = value["@list"]
                self._emit_list(subj, pred, items if isinstance(items, list) else [items], term_def, ctx, graph)
                return
            if "@value" in value:
                v = value["@value"]
                if value.get("@type") == "@json":
                    # rdf:JSON literal: @value may be ANY JSON value — null
                    # included (JCS "null"), unlike the plain-value null-drop
                    self._emit(
                        subj[0], subj[1], pred,
                        "Literal", _jcs(v), RDF_NS + "JSON", g=graph,
                    )
                    return
                if v is None:
                    return  # {"@value": null} → emit nothing (expansion null-drop)
                lang = value.get("@language")
                dt = value.get("@type")
                if dt is not None:
                    dt = self._expand_iri(dt, ctx, vocab=True)
                lex, inferred_dt = self._json_literal(v)
                self._emit(
                    subj[0], subj[1], pred, "Literal", lex,
                    dt if dt is not None else (None if lang else inferred_dt),
                    lang, g=graph,
                )
                return
            if set(value) <= {"@id"} and "@id" in value:
                o = self._subject_term(value["@id"], ctx)
                self._emit(subj[0], subj[1], pred, o[0], o[1], g=graph)
                return
            # nested node object: emit its quads, link by its subject
            o = self.node(value, ctx, graph)
            self._emit(subj[0], subj[1], pred, o[0], o[1], g=graph)
            return
        if isinstance(value, str):
            if term_def.get("@type") == "@id":
                o = self._subject_term(value, ctx)
                self._emit(subj[0], subj[1], pred, o[0], o[1], g=graph)
                return
            dt = term_def.get("@type")
            lang = term_def.get("@language", ctx.language)
            self._emit(subj[0], subj[1], pred, "Literal", value, dt, None if dt else lang, g=graph)
            return
        lex, dt = self._json_literal(value)
        coerced = term_def.get("@type")
        self._emit(subj[0], subj[1], pred, "Literal", lex, coerced or dt, None, g=graph)

    @staticmethod
    def _json_literal(v) -> tuple[str, str | None]:
        """JSON scalar → (lexical form, datatype) per the toRDF algorithm."""
        if isinstance(v, bool):
            return ("true" if v else "false", XSD + "boolean")
        if isinstance(v, int):
            return (str(v), XSD + "integer")
        if isinstance(v, float):
            # a JSON number loads as float only when written with a
            # fraction/exponent — toRDF canonicalizes those as xsd:double
            return (_canonical_double(v), XSD + "double")
        if isinstance(v, str):
            return (v, None)
        if v is None:
            raise ValueError("null @value is not an RDF literal")
        raise ValueError(
            f"invalid @value of type {type(v).__name__} — a non-scalar "
            '@value requires "@type": "@json"'
        )


def parse_jsonld(
    text: str, base_iri: str | None = None, contexts: dict | None = None
) -> list[tuple]:
    """Parse a JSON-LD document → quad tuples in the engine schema
    (s_type, s, p, o_type, o, o_datatype, o_lang, g, seq).

    ``contexts`` maps context URLs to their (already-parsed) JSON — the
    offline equivalent of a jsonld documentLoader. The engine never does
    network I/O; an unmapped remote context URL fails fast."""
    p = _Parser(base_iri, contexts=contexts)
    p.process_document(json.loads(text))
    return p.quads


def parse_jsonld_documents(
    texts: list[str], base_iri: str | None = None, contexts: dict | None = None
) -> list[tuple]:
    """Parse several JSON-LD documents as ONE merged document — a shared
    blank-node label scope across all of them, exactly the JSON-LD-in-HTML
    ``extractAllScripts`` shape (spec: multiple ``<script>`` data islands
    are processed as if concatenated into a single top-level array)."""
    p = _Parser(base_iri, contexts=contexts)
    for t in texts:
        p.process_document(json.loads(t))
    return p.quads


def serialize_jsonld(rows: list[tuple]) -> str:
    """Quad tuples → an expanded-form JSON-LD document (one node object
    per quad; named graphs become ``{"@id": g, "@graph": [...]}``
    wrappers). Round-trips through :func:`parse_jsonld` — property-tested.
    Blank-node labels serialize as ``_:label``."""

    def term(t_type, value):
        return {"@id": ("_:" + value) if t_type == "BlankNode" else value}

    def node(r):
        s_type, s, p, o_type, o, dt, lang = r[0], r[1], r[2], r[3], r[4], r[5], r[6]
        if o_type == "Literal":
            obj: dict = {"@value": o}
            if dt:
                obj["@type"] = dt
            if lang:
                obj["@language"] = lang
        else:
            obj = term(o_type, o)
        return {**term(s_type, s), p: [obj]}

    default_graph, named = [], {}
    for r in rows:
        g = r[7]
        (default_graph if g is None else named.setdefault(g, [])).append(node(r))
    doc = default_graph + [
        {"@id": g, "@graph": nodes} for g, nodes in named.items()
    ]
    return json.dumps(doc)


def read_jsonld(
    spark, path: str, base_iri: str | None = None, contexts: dict | None = None
):
    """``QuadSourceFile`` for ``.jsonld`` — per-file parsed (driver for one
    file, distributed for globs/directories); accepts a file, glob, or
    directory. ``base_iri`` defaults per file to its URI like rdf-parse's
    ``path`` option. ``contexts`` is the offline documentLoader mapping
    (context URL → parsed JSON), broadcast to executors with the parse
    closure for multi-file reads."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, "jsonld", base_iri, contexts=contexts)
