"""RDF/XML source (``lib/io/QuadSourceFile.ts:19-25`` delegates ``.rdf`` to
rdf-parse). Whole-file like the Turtle parser — RDF/XML is a nested XML
document, not line-splittable — built on stdlib ``xml.etree``; single
files parse on the driver, globs/directories in parallel on executors
(``sources/driverfile.py``).

Grammar coverage (the RDF/XML constructs that appear in real ontology /
vocabulary files): ``rdf:RDF`` roots, ``rdf:Description`` and typed node
elements, ``rdf:about`` / ``rdf:nodeID`` / ``rdf:ID`` / anonymous subjects,
nested node elements as objects, ``rdf:resource`` / ``rdf:nodeID`` object
references, ``rdf:datatype`` and (scoped, inherited) ``xml:lang`` literals,
scoped ``xml:base``, property attributes on node and property elements,
``rdf:parseType="Resource"``, ``rdf:parseType="Collection"``
(rdf:first/rest/nil chains, same encoding as the Turtle parser's
collections), ``rdf:ID`` reification on property elements (rdf:Statement
+ subject/predicate/object quads, §7.3), ``rdf:li`` container
membership, and ``rdf:parseType="Literal"`` (inner markup re-serialized
as an ``rdf:XMLLiteral`` literal, §7.2.17 — infoset-preserving, but
namespace prefixes normalize and comments drop per stdlib ElementTree).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from rdf_dataset_fragmenter_js_spark.functions.iri import resolve_iri

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"

_RDF = "{" + RDF_NS + "}"
_XML_LANG = "{" + XML_NS + "}lang"
_XML_BASE = "{" + XML_NS + "}base"

#: rdf:-namespace attributes that are syntax, not property attributes
_SYNTAX_ATTRS = {
    _RDF + n for n in ("about", "ID", "nodeID", "resource", "datatype", "parseType")
}


def _split_tag(tag: str) -> tuple[str, str]:
    if not tag.startswith("{"):
        raise ValueError(f"un-namespaced element <{tag}> — RDF/XML names must be qualified")
    uri, local = tag[1:].split("}", 1)
    return uri, local


class _Parser:
    def __init__(self, base_iri: str | None):
        self.base = base_iri
        self.quads: list[tuple] = []
        self._bnode_n = 0

    def _fresh_bnode(self) -> str:
        # PN_CHARS-only (serializable as N-Quads); cross-file uniqueness
        # comes from the per-file namespacing in sources/driverfile.py
        self._bnode_n += 1
        return f"genid_xml_{self._bnode_n}"

    @staticmethod
    def _authored_bnode(label: str) -> str:
        # Authored rdf:nodeID labels get a namespace disjoint from the
        # generated 'genid_xml_N' ones (same scheme as sources/jsonld.py
        # and sources/turtle.py): a document authoring
        # rdf:nodeID="genid_xml_1" next to an anonymous node must stay two
        # distinct blank nodes. 'b_'+label is injective and PN_CHARS-legal.
        return "b_" + label

    def _resolve(self, iri: str, base: str | None) -> str:
        if base is None:
            return iri
        return resolve_iri(iri, base)

    def _scoped(self, elem: ET.Element, base: str | None, lang: str | None):
        """Apply the element's xml:base / xml:lang to the inherited scope:
        a RELATIVE xml:base resolves against the in-scope base (XML Base
        §4.3) and xml:lang='' cancels the inherited language."""
        b = elem.get(_XML_BASE)
        if b is not None:
            base = self._resolve(b, base)
        lv = elem.get(_XML_LANG)
        if lv is not None:
            lang = lv or None
        return base, lang

    def _emit(self, s_type, s, p, o_type, o, dt=None, lang=None):
        self.quads.append((s_type, s, p, o_type, o, dt, lang, None, len(self.quads)))

    # -- node elements -----------------------------------------------------

    def node(self, elem: ET.Element, base: str | None, lang: str | None) -> tuple[str, str]:
        """Parse a node element → (term_type, term_value), emitting quads."""
        base, lang = self._scoped(elem, base, lang)
        about = elem.get(_RDF + "about")
        node_id = elem.get(_RDF + "nodeID")
        rid = elem.get(_RDF + "ID")
        if about is not None:
            subj = ("NamedNode", self._resolve(about, base))
        elif node_id is not None:
            subj = ("BlankNode", self._authored_bnode(node_id))
        elif rid is not None:
            subj = ("NamedNode", self._resolve("#" + rid, base))
        else:
            subj = ("BlankNode", self._fresh_bnode())

        uri, local = _split_tag(elem.tag)
        if uri + local != RDF_NS + "Description":
            self._emit(subj[0], subj[1], RDF_NS + "type", "NamedNode", uri + local)

        # property attributes on the node element (non-syntax, non-xml)
        for attr, value in elem.attrib.items():
            if attr in _SYNTAX_ATTRS or attr.startswith("{" + XML_NS + "}"):
                continue
            a_uri, a_local = _split_tag(attr)
            if a_uri + a_local == RDF_NS + "type":
                self._emit(subj[0], subj[1], RDF_NS + "type", "NamedNode", self._resolve(value, base))
            else:
                self._emit(subj[0], subj[1], a_uri + a_local, "Literal", value, None, lang)

        self.properties(elem, subj, base, lang)
        return subj

    def properties(self, elem: ET.Element, subj: tuple[str, str], base: str | None, lang: str | None) -> None:
        li_counter = 0
        for prop in elem:
            li_counter = self.property_element(prop, subj, base, lang, li_counter)

    # -- property elements -------------------------------------------------

    def property_element(
        self,
        prop: ET.Element,
        subj: tuple[str, str],
        base: str | None,
        lang: str | None,
        li_counter: int,
    ) -> int:
        base, lang = self._scoped(prop, base, lang)
        uri, local = _split_tag(prop.tag)
        if uri + local == RDF_NS + "li":
            li_counter += 1
            pred = f"{RDF_NS}_{li_counter}"
        else:
            pred = uri + local

        rid = prop.get(_RDF + "ID")
        reify = self._resolve("#" + rid, base) if rid is not None else None

        def emit_stmt(o_type: str, o_val: str, dt=None, ol=None) -> None:
            """The property element's main statement, plus its reification
            quads when rdf:ID is present (RDF/XML §7.3: the statement IRI
            is #ID resolved against the in-scope base, typed rdf:Statement
            with subject/predicate/object quads)."""
            self._emit(subj[0], subj[1], pred, o_type, o_val, dt, ol)
            if reify is not None:
                self._emit("NamedNode", reify, RDF_NS + "type", "NamedNode", RDF_NS + "Statement")
                self._emit("NamedNode", reify, RDF_NS + "subject", subj[0], subj[1])
                self._emit("NamedNode", reify, RDF_NS + "predicate", "NamedNode", pred)
                self._emit("NamedNode", reify, RDF_NS + "object", o_type, o_val, dt, ol)

        parse_type = prop.get(_RDF + "parseType")
        if parse_type is not None and parse_type not in ("Resource", "Collection", "Literal"):
            raise NotImplementedError(
                f"rdf:parseType={parse_type!r} is not supported (only "
                "'Resource', 'Collection' and 'Literal')"
            )

        resource = prop.get(_RDF + "resource")
        node_id = prop.get(_RDF + "nodeID")
        datatype = prop.get(_RDF + "datatype")
        prop_attrs = [
            (a, v)
            for a, v in prop.attrib.items()
            if a not in _SYNTAX_ATTRS and not a.startswith("{" + XML_NS + "}")
        ]
        children = list(prop)

        if parse_type == "Literal":
            # RDF/XML §7.2.17: the element content is an rdf:XMLLiteral —
            # the inner markup re-serialized from the parsed tree, not
            # parsed as RDF. stdlib ElementTree limits apply: namespace
            # prefixes are normalized (ns0:...) and XML comments/PIs are
            # dropped; the INFOSET (elements, attributes, text) survives.
            parts = [prop.text or ""]
            for child in prop:
                parts.append(ET.tostring(child, encoding="unicode"))
            emit_stmt("Literal", "".join(parts), RDF_NS + "XMLLiteral", None)
            return li_counter
        if parse_type == "Resource":
            obj = ("BlankNode", self._fresh_bnode())
            emit_stmt(obj[0], obj[1])
            self.properties(prop, obj, base, lang)
            return li_counter
        if parse_type == "Collection":
            # RDF/XML §7.2.19: child node elements become an rdf:first/rest
            # chain — the same list encoding the Turtle parser emits for
            # '( … )' (sources/turtle.py collections)
            items = [self.node(child, base, lang) for child in prop]
            if not items:
                emit_stmt("NamedNode", RDF_NS + "nil")
                return li_counter
            heads = [self._fresh_bnode() for _ in items]
            emit_stmt("BlankNode", heads[0])
            for i, ((it_type, it_val), head) in enumerate(zip(items, heads)):
                self._emit("BlankNode", head, RDF_NS + "first", it_type, it_val)
                if i + 1 < len(heads):
                    self._emit("BlankNode", head, RDF_NS + "rest", "BlankNode", heads[i + 1])
                else:
                    self._emit("BlankNode", head, RDF_NS + "rest", "NamedNode", RDF_NS + "nil")
            return li_counter
        has_text = bool(prop.text and prop.text.strip())
        if resource is not None or node_id is not None or (prop_attrs and not children):
            # object reference (or anonymous bnode carrying property attrs)
            if has_text or children:
                raise ValueError(
                    f"property element <{pred}> mixes rdf:resource/rdf:nodeID/"
                    "property attributes with text or nested elements — "
                    "not valid RDF/XML (refusing to drop content silently)"
                )
            if resource is not None:
                obj = ("NamedNode", self._resolve(resource, base))
            elif node_id is not None:
                obj = ("BlankNode", self._authored_bnode(node_id))
            else:
                obj = ("BlankNode", self._fresh_bnode())
            emit_stmt(obj[0], obj[1])
            for attr, value in prop_attrs:
                a_uri, a_local = _split_tag(attr)
                if a_uri + a_local == RDF_NS + "type":
                    self._emit(obj[0], obj[1], RDF_NS + "type", "NamedNode", self._resolve(value, base))
                else:
                    self._emit(obj[0], obj[1], a_uri + a_local, "Literal", value, None, lang)
            return li_counter
        if children:
            if has_text:
                raise ValueError(
                    f"property element <{pred}> mixes text with nested node "
                    "elements (parseType='Literal' XML content is not "
                    "supported — refusing to drop content silently)"
                )
            for child in children:  # spec: one node element; tolerate several
                obj = self.node(child, base, lang)
                emit_stmt(obj[0], obj[1])
            return li_counter
        # literal property
        text = prop.text or ""
        if datatype is not None:
            emit_stmt("Literal", text, datatype, None)
        else:
            emit_stmt("Literal", text, None, lang)
        return li_counter


def parse_rdfxml(text: str, base_iri: str | None = None) -> list[tuple]:
    """Parse an RDF/XML document → quad tuples in the engine schema."""
    root = ET.fromstring(text)
    p = _Parser(base_iri)
    uri, local = _split_tag(root.tag)
    if uri + local == RDF_NS + "RDF":
        base, lang = p._scoped(root, base_iri, None)
        for child in root:
            p.node(child, base, lang)
    else:
        # single top-level node element: node() applies the root's own
        # xml:base/xml:lang scoping — doing it here too would resolve a
        # relative xml:base twice
        p.node(root, base_iri, None)
    return p.quads


def read_rdfxml(spark, path: str, base_iri: str | None = None):
    """``QuadSourceFile`` for ``.rdf``/``.owl`` — whole-file parsed (nested
    XML is not splittable): one file on the driver, globs/directories in
    parallel on executors. ``base_iri`` defaults per file to its URI like
    rdf-parse's ``path`` option."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, "rdfxml", base_iri)
