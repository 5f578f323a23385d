"""RDFa source (``lib/io/QuadSourceFile.ts:19-25`` delegates ``.html`` /
``.xhtml`` to rdf-parse, which routes them to rdfa-streaming-parser).
Driver/executor per-file parsing like the other non-splittable sources,
built on stdlib ``html.parser``.

Coverage — RDFa 1.1 **Lite** plus the attributes real markup leans on:

* ``vocab`` / ``prefix`` (space-separated ``pfx: iri`` pairs, scoped and
  inherited) / the RDFa 1.1 initial-context prefixes;
* ``about`` / ``resource`` (safe-CURIE ``[pfx:ref]``, CURIE, IRI, and
  ``_:label`` blank nodes) and ``href`` / ``src`` resource objects;
* ``typeof`` (rdf:type; a ``typeof`` without a subject mints a blank
  node, as object of an enclosing ``property`` per RDFa Core §7.5/11);
* ``property`` with ``content=``, with a resource object, or with the
  element's text content as a plain literal (``lang`` inherited);
* ``datatype=``, and HTML5 ``<time datetime=>`` with the spec's lexical
  datatype inference (xsd:date/dateTime/time/gYear/gYearMonth/duration);
* ``<base href>`` overriding the document base IRI;
* JSON-LD data islands (``<script type="application/ld+json">``, JSON-LD
  1.1 §HTML content) — rdf-parse's ``text/html`` route emits these
  alongside the RDFa annotations, extractAllScripts semantics: all islands
  form one merged document (shared authored-bnode scope), disjoint from
  the RDFa blank-node scope.

* ``rel`` / ``rev`` per the full RDFa Core 1.1 §7.5 processing sequence:
  an explicit resource on the element (``resource`` / ``href`` / ``src``)
  completes the link in place (step 9) and becomes the *current object
  resource* for descendants; a **hanging** ``rel`` / ``rev`` (no resource)
  stores *incomplete triples* (step 10) that every descendant which
  establishes a new subject completes against the element's subject
  (step 12), with a freshly minted blank node as the chaining object for
  descendants that merely continue the scope. ``typeof`` applies to
  ``about`` when present, else to the object resource (the spec's *typed
  resource*). Term values resolve per Core §7.4.3: CURIE, absolute IRI,
  then the in-scope ``vocab``, then — only when NO vocab is in scope —
  the RDFa 1.1 initial-context term mappings (``describedby`` /
  ``license`` / ``role``, case-insensitive); plain HTML link relations
  (``rel="stylesheet"``, ``rel="next"`` with no in-scope vocab) resolve
  to no term and the attribute is ignored — they are HTML hyperlinks,
  not RDFa. Per HTML+RDFa 1.1 §3.1, when ``property`` co-occurs with
  ``rel`` / ``rev`` on one element, non-CURIE non-IRI (term) values in
  ``rel`` / ``rev`` are ignored; if that leaves them empty the element
  is processed as if they were absent (the "property copies" rule).
* ``inlist`` (rdf:List collections): list mappings per Core §7.5 steps
  8 / 9 / 11, accumulated across the subtree that shares the owning
  subject and emitted as ``rdf:first`` / ``rdf:rest`` chains when the
  owning element closes; a hanging ``rel inlist`` stores a
  list-direction incomplete triple completed by descendant subjects.

* ``datatype="rdf:XMLLiteral"`` (Core §7.5 step 11 "as an XML literal"):
  the value is the **verbatim raw inner markup** between the element's
  start tag and its matching end tag (captured by offset into the raw
  document — entity references stay unexpanded, exactly as authored);
  ``@content`` is not consulted, and descendants are still processed
  normally (RDFa 1.1 dropped 1.0's descendant suppression). No exclusive
  canonicalization is applied — the literal is the authored byte slice,
  matching a streaming parser's behavior on already-serialized HTML.

Unknown *terms* (a bare ``property="foo"`` with no in-scope ``vocab``)
are dropped like the spec's term-expansion failure, not errors.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from rdf_dataset_fragmenter_js_spark.sources._htmlbase import (
    ABSOLUTE_IRI as _ABSOLUTE_IRI,
)
from rdf_dataset_fragmenter_js_spark.sources._htmlbase import (
    VOID_ELEMENTS as _VOID,
)
from rdf_dataset_fragmenter_js_spark.sources._htmlbase import QuadHtmlParser

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

#: RDFa 1.1 initial context (W3C-published default prefix declarations) —
#: the widely-used subset; markup can always declare its own via @prefix.
INITIAL_CONTEXT = {
    "rdf": RDF_NS,
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": XSD,
    "owl": "http://www.w3.org/2002/07/owl#",
    "dc": "http://purl.org/dc/terms/",
    "dcterms": "http://purl.org/dc/terms/",
    "dc11": "http://purl.org/dc/elements/1.1/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "schema": "http://schema.org/",
    "og": "http://ogp.me/ns#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "vcard": "http://www.w3.org/2006/vcard/ns#",
    "prov": "http://www.w3.org/ns/prov#",
    "void": "http://rdfs.org/ns/void#",
    "cc": "http://creativecommons.org/ns#",
    "sioc": "http://rdfs.org/sioc/ns#",
    "xhv": "http://www.w3.org/1999/xhtml/vocab#",
}

_PREFIX_DECL = re.compile(r"([A-Za-z][\w.\-]*):\s+(\S+)")
_NCNAME = re.compile(r"^[A-Za-z_][\w.\-]*$")

#: RDFa 1.1 initial-context TERM mappings (w3.org/2011/rdfa-context/
#: rdfa-1.1) — resolved case-insensitively, and only when NO local
#: default vocabulary is in scope (Core §7.4.3: a local @vocab wins;
#: term mappings are the no-vocab fallback).
_INITIAL_TERMS = {
    "describedby": "http://www.w3.org/2007/05/powder-s#describedby",
    "license": "http://www.w3.org/1999/xhtml/vocab#license",
    "role": "http://www.w3.org/1999/xhtml/vocab#role",
}

#: HTML5 <time datetime=> lexical → xsd datatype (html-rdfa §3.1)
_DATETIME_TYPES = (
    (re.compile(r"^-?\d{4,}-\d{2}-\d{2}T"), XSD + "dateTime"),
    (re.compile(r"^-?\d{4,}-\d{2}-\d{2}$"), XSD + "date"),
    (re.compile(r"^\d{2}:\d{2}(:\d{2})?"), XSD + "time"),
    (re.compile(r"^-?\d{4,}-\d{2}$"), XSD + "gYearMonth"),
    (re.compile(r"^-?\d{4,}$"), XSD + "gYear"),
    (re.compile(r"^-?P"), XSD + "duration"),
)


class _Scope:
    """One element's *evaluation context* for its children (RDFa Core 1.1
    §7.5 step 13): parent subject, parent object (the chaining target),
    the incomplete triples this element left hanging, and the shared
    rdf:List mapping."""

    __slots__ = (
        "tag",
        "subject",
        "object",
        "prefixes",
        "vocab",
        "lang",
        "literal",
        "xml_start",
        "incomplete",
        "list_mapping",
        "owns_list",
        "list_subject",
    )

    def __init__(self, tag, subject, obj, prefixes, vocab, lang):
        self.tag = tag
        self.subject = subject  # (type, value) parent subject for children
        self.object = obj  # (type, value) parent object for children
        self.prefixes = prefixes
        self.vocab = vocab
        self.lang = lang
        #: open text-content literal:
        #: (subject, [preds], datatype, lang, inlist_mapping_or_None, buf)
        self.literal = None
        #: rdf:XMLLiteral capture: absolute offset (into the raw document)
        #: of the first char AFTER this element's start tag; the literal
        #: value is the verbatim raw slice up to its matching end tag
        self.xml_start = None
        #: incomplete triples for children: [(pred_or_list, direction)]
        #: with direction in {"forward", "reverse", "list"} (§7.5 step 10)
        self.incomplete: list = []
        #: pred IRI -> [(type, value, datatype, lang)] — SHARED down the
        #: subtree until a new subject recreates it (§7.5 step 8)
        self.list_mapping: dict = {}
        #: True when THIS element created the mapping → emit rdf:first/
        #: rdf:rest chains when the element closes
        self.owns_list = False
        self.list_subject = None


class _RdfaParser(QuadHtmlParser):
    BNODE_PREFIX = "genid_rdfa_"

    def __init__(self, base_iri: str | None):
        super().__init__(base_iri)
        self._bnode_map: dict[str, str] = {}
        # raw-document bookkeeping for rdf:XMLLiteral (verbatim inner
        # markup, Core §7.5 step 11): the accumulated raw text, a lazily
        # built line-start index mapping getpos() → absolute offset, the
        # end offset to flush open XML literals against, and a count of
        # open XML-literal scopes so non-XMLLiteral documents never pay
        # for the position bookkeeping
        self._raw = ""
        self._line_starts: list[int] | None = None
        self._xml_flush_end = 0
        self._xml_open = 0
        # the document node: its IRI when a base is known, else a blank
        # node (read_driver_parsed always passes the file URI as base)
        self._doc = (
            ("NamedNode", base_iri) if base_iri else ("BlankNode", "genid_rdfa_doc")
        )
        # Root evaluation context: parent subject AND parent object are the
        # document node (the spec's root-element "act as if empty @about"
        # rule falls out of every default chain reading parent object).
        root = _Scope(None, self._doc, self._doc, dict(INITIAL_CONTEXT), None, None)
        root.list_subject = self._doc
        self.stack.append(root)

    # -- raw-offset machinery (rdf:XMLLiteral) ------------------------------

    def feed(self, data):
        self._raw += data
        self._line_starts = None
        super().feed(data)

    def _abs_pos(self) -> int:
        """Absolute offset into the raw document of the token the parser
        is currently positioned at (``getpos()`` is (1-based line, col))."""
        if self._line_starts is None:
            starts = [0]
            idx = self._raw.find("\n")
            while idx != -1:
                starts.append(idx + 1)
                idx = self._raw.find("\n", idx + 1)
            self._line_starts = starts
        lineno, col = self.getpos()
        return self._line_starts[lineno - 1] + col

    def handle_endtag(self, tag):
        if self._xml_open:
            # getpos() points at the '<' of this end tag — the exclusive
            # end of any XML literal the base-class pop is about to flush
            self._xml_flush_end = self._abs_pos()
        super().handle_endtag(tag)

    # -- term machinery ----------------------------------------------------

    def _curie_or_iri(self, value: str, scope: _Scope):
        """@about/@resource value → subject/object term (safe-CURIE, CURIE,
        _:bnode, or IRI resolved against base)."""
        value = value.strip()
        if value.startswith("[") and value.endswith("]"):
            value = value[1:-1].strip()
        if value.startswith("_:"):
            label = value[2:] or "anon"
            return ("BlankNode", self._bnode_map.setdefault(label, f"b_{label}"))
        if ":" in value:
            prefix, suffix = value.split(":", 1)
            if not suffix.startswith("//") and prefix in scope.prefixes:
                return ("NamedNode", scope.prefixes[prefix] + suffix)
        return ("NamedNode", self._resolve(value))

    def _term_or_curie(self, value: str, scope: _Scope) -> str | None:
        """@property/@typeof/@datatype/@rel/@rev item → IRI. Terms resolve
        per Core §7.4.3: the in-scope @vocab first, the initial-context
        term mappings (case-insensitive) only when no vocab is in scope,
        else None (dropped, per term-expansion failure — a plain HTML link
        relation like ``stylesheet`` resolves to no term)."""
        if ":" in value:
            prefix, suffix = value.split(":", 1)
            if not suffix.startswith("//") and prefix in scope.prefixes:
                return scope.prefixes[prefix] + suffix
            if _ABSOLUTE_IRI.match(value):
                return value
        if _NCNAME.match(value):
            if scope.vocab:
                return scope.vocab + value
            return _INITIAL_TERMS.get(value.lower())
        return None

    def _terms(
        self, attr_value: str, scope: _Scope, curie_only: bool = False
    ) -> list[str]:
        """``curie_only`` implements HTML+RDFa 1.1 §3.1: when @property
        co-occurs with @rel/@rev, non-CURIE non-IRI (term) values in the
        latter are ignored."""
        out = []
        for item in attr_value.split():
            if curie_only and ":" not in item:
                continue
            iri = self._term_or_curie(item, scope)
            if iri is not None:
                out.append(iri)
        return out

    # -- tree walk ---------------------------------------------------------

    def handle_starttag(self, tag, attrs):
        a = {}
        for k, v in attrs:
            if v is not None and k not in a:  # first wins, like browsers
                a[k] = v
        # @inlist is DEFINED by presence ('<span property="p" inlist>'),
        # so it must be read from the raw pairs, not the value-carrying
        # dict. (A bare/valueless @rel resolves to zero terms and is
        # ignored per Core §7.4.3 term-expansion failure.)
        present = {k for k, _ in attrs}
        parent = self.stack[-1]
        prefixes, vocab, lang = parent.prefixes, parent.vocab, parent.lang
        if "prefix" in a:
            prefixes = dict(prefixes)
            for pfx, iri in _PREFIX_DECL.findall(a["prefix"]):
                prefixes[pfx] = iri
        if "vocab" in a:
            vocab = a["vocab"] or None
        if "lang" in a or "xml:lang" in a:
            lang = a.get("lang") or a.get("xml:lang") or None
        if tag == "base" and a.get("href"):
            # rebase the document node: scopes still pointing at it, open
            # literal buffers, AND any quads already emitted against it
            # (legal head order puts <meta property content> before <base>)
            self.base = a["href"]
            new_doc = ("NamedNode", self.base)
            old_t, old_v = self._doc
            seen_maps: set[int] = set()
            for sc in self.stack:
                if sc.subject == self._doc:
                    sc.subject = new_doc
                if sc.object == self._doc:
                    sc.object = new_doc
                if sc.list_subject == self._doc:
                    sc.list_subject = new_doc
                if sc.literal is not None and sc.literal[0] == self._doc:
                    sc.literal = (new_doc,) + sc.literal[1:]
                if id(sc.list_mapping) not in seen_maps:
                    seen_maps.add(id(sc.list_mapping))
                    for items in sc.list_mapping.values():
                        for i, it in enumerate(items):
                            if (it[0], it[1]) == (old_t, old_v):
                                items[i] = new_doc + it[2:]
            self.quads = [
                (
                    (new_doc[0] if (q[0], q[1]) == (old_t, old_v) else q[0]),
                    (new_doc[1] if (q[0], q[1]) == (old_t, old_v) else q[1]),
                    q[2],
                    (new_doc[0] if (q[3], q[4]) == (old_t, old_v) else q[3]),
                    (new_doc[1] if (q[3], q[4]) == (old_t, old_v) else q[4]),
                )
                + q[5:]
                for q in self.quads
            ]
            self._doc = new_doc
        scope = _Scope(tag, parent.subject, parent.object, prefixes, vocab, lang)

        explicit_res = next(
            (
                self._curie_or_iri(a[k], scope) if k in ("about", "resource") else ("NamedNode", self._resolve(a[k]))
                for k in ("resource", "href", "src")
                if k in a
            ),
            None,
        )
        about = self._curie_or_iri(a["about"], scope) if "about" in a else None
        has_typeof = "typeof" in present
        types = self._terms(a.get("typeof") or "", scope)
        has_prop = "property" in present
        props = self._terms(a.get("property") or "", scope)
        inlist = "inlist" in present
        datatype_attr = "datatype" in a
        datatype = (
            self._term_or_curie(a["datatype"], scope) if a.get("datatype") else None
        )
        content = a.get("content")
        if content is None and tag == "time" and "datetime" in a:
            # HTML+RDFa §3.1: @datetime acts as @content, with lexical
            # datatype inference when no @datatype is given
            content = a["datetime"]
            if not datatype_attr:
                datatype = next(
                    (dt for rx, dt in _DATETIME_TYPES if rx.match(content)), None
                )
        # HTML+RDFa 1.1 §3.1: with @property present, term values in
        # @rel/@rev are ignored (CURIEs / absolute IRIs survive); both
        # empty → processed as if @rel/@rev were absent
        rels = self._terms(a.get("rel") or "", scope, curie_only=has_prop)
        revs = self._terms(a.get("rev") or "", scope, curie_only=has_prop)

        # -- §7.5 steps 5/6: new subject / current object resource ---------
        new_subject = None
        cor = None  # current object resource
        typed = None  # typed resource (receives @typeof)
        skip = False
        if not rels and not revs:
            if has_prop and content is None and not datatype_attr:
                # step 5.1: @property without @content/@datatype — the
                # subject comes from @about or the parent object; a plain
                # @resource is the property's OBJECT (step 11), never the
                # descendants' subject
                new_subject = about if about is not None else parent.object
                if has_typeof:
                    if about is not None:
                        typed = about
                    else:
                        typed = (
                            explicit_res
                            if explicit_res is not None
                            else self._fresh_bnode()
                        )
                        cor = typed
            else:
                # step 5.2 (with @content/@datatype, @resource/@href/@src
                # names the SUBJECT per spec)
                if about is not None:
                    new_subject = about
                elif explicit_res is not None:
                    new_subject = explicit_res
                elif has_typeof:
                    new_subject = self._fresh_bnode()
                else:
                    new_subject = parent.object
                    if not has_prop:
                        skip = True
                if has_typeof:
                    typed = new_subject
        else:
            # step 6: @rel/@rev present
            new_subject = about if about is not None else parent.object
            cor = explicit_res
            if has_typeof:
                if about is not None:
                    typed = new_subject
                else:
                    typed = cor if cor is not None else self._fresh_bnode()
                    cor = typed

        # -- step 7: typing -------------------------------------------------
        if typed is not None:
            for t in types:
                self._emit(typed, RDF_NS + "type", ("NamedNode", t))

        # -- step 8: a new subject different from the parent object opens a
        # fresh list-mapping scope; otherwise the parent's is shared
        if new_subject is not None and new_subject != parent.object:
            scope.list_mapping = {}
            scope.owns_list = True
            scope.list_subject = new_subject
        else:
            scope.list_mapping = parent.list_mapping

        # -- steps 9/10: @rel/@rev triples, or incomplete triples -----------
        incomplete_local: list = []
        if rels or revs:
            if cor is not None:
                for r in rels:
                    if inlist:
                        scope.list_mapping.setdefault(r, []).append(cor + (None, None))
                    else:
                        self._emit(new_subject, r, cor)
                for r in revs:
                    self._emit(cor, r, new_subject)
            else:
                # hanging @rel/@rev: store incomplete triples, mint the
                # chaining bnode descendants continue from (step 10)
                for r in rels:
                    if inlist:
                        incomplete_local.append(
                            (scope.list_mapping.setdefault(r, []), "list")
                        )
                    else:
                        incomplete_local.append((r, "forward"))
                for r in revs:
                    incomplete_local.append((r, "reverse"))
                cor = self._fresh_bnode()

        # -- step 11: @property value ----------------------------------------
        if props:
            value = None  # resource-valued property: (type, value)
            lit = None  # immediate literal: (text, datatype, lang)
            defer = False  # literal from text content, filled at end tag
            if datatype == RDF_NS + "XMLLiteral":
                # step 11 "as an XML literal": the value is the verbatim
                # serialization of the element's children (@content is NOT
                # consulted — the XML-literal rule precedes the @content
                # rules); captured as the raw slice between this start tag
                # and its matching end tag. Descendants are still
                # processed normally (RDFa 1.1 dropped 1.0's suppression).
                mapping = scope.list_mapping if inlist else None
                scope.literal = (new_subject, props, datatype, None, mapping, [])
                scope.xml_start = self._abs_pos() + len(
                    self.get_starttag_text() or ""
                )
                self._xml_open += 1
            elif datatype_attr:
                # a resolving @datatype → typed literal; empty/unresolvable
                # @datatype → plain literal — either way a literal, even
                # with @resource present (step 11's rule order)
                if content is not None:
                    lit = (content, datatype, None if datatype else lang)
                else:
                    defer = True
            elif content is not None:
                lit = (content, datatype, None if datatype else lang)
            elif not rels and not revs and explicit_res is not None:
                value = explicit_res
            elif has_typeof and about is None:
                value = typed
            else:
                defer = True
            if value is not None:
                for p in props:
                    if inlist:
                        scope.list_mapping.setdefault(p, []).append(
                            value + (None, None)
                        )
                    else:
                        self._emit(new_subject, p, value)
            elif lit is not None:
                text, dt, lg = lit
                for p in props:
                    if inlist:
                        scope.list_mapping.setdefault(p, []).append(
                            ("Literal", text, dt, lg)
                        )
                    else:
                        self._emit(new_subject, p, ("Literal", text), dt, lg)
            elif defer:
                # literal = element text content, collected until the
                # matching end tag (children still produce their own
                # triples; their text also feeds this buffer)
                mapping = scope.list_mapping if inlist else None
                scope.literal = (new_subject, props, datatype, lang, mapping, [])

        # -- step 12: a new subject completes the parent's incomplete triples
        if not skip and new_subject is not None:
            for pred, direction in parent.incomplete:
                if direction == "list":
                    pred.append(new_subject + (None, None))
                elif direction == "forward":
                    self._emit(parent.subject, pred, new_subject)
                else:
                    self._emit(new_subject, pred, parent.subject)

        # -- step 13: evaluation context for children ------------------------
        if skip:
            scope.subject = parent.subject
            scope.object = parent.object
            scope.incomplete = parent.incomplete
        else:
            scope.subject = new_subject if new_subject is not None else parent.subject
            scope.object = cor or new_subject or parent.subject
            scope.incomplete = incomplete_local

        self._finish_starttag(tag, scope)

    def _flush_literal(self, scope: _Scope):
        if scope.literal is not None:
            subject, props, datatype, lang, mapping, buf = scope.literal
            if scope.xml_start is not None:
                # XML literal: verbatim raw inner markup. A void /
                # self-closing element flushes before any end tag moved
                # _xml_flush_end past its start — the max() clamp yields
                # the empty serialization in that case.
                text = self._raw[
                    scope.xml_start : max(self._xml_flush_end, scope.xml_start)
                ]
                scope.xml_start = None
                self._xml_open -= 1
            else:
                text = "".join(buf)
            for p in props:
                if mapping is not None:  # @inlist literal joins the list
                    mapping.setdefault(p, []).append(
                        ("Literal", text, datatype, None if datatype else lang)
                    )
                else:
                    self._emit(
                        subject,
                        p,
                        ("Literal", text),
                        datatype,
                        None if datatype else lang,
                    )
            scope.literal = None
        if scope.owns_list and scope.list_mapping:
            self._emit_lists(scope.list_mapping, scope.list_subject)

    def _emit_lists(self, mapping: dict, subject):
        """rdf:first/rdf:rest chains for a closing list-mapping owner (the
        spec's end-of-element list generation); an empty list — a hanging
        ``rel inlist`` no descendant completed — attaches rdf:nil."""
        nil = ("NamedNode", RDF_NS + "nil")
        for pred, items in mapping.items():
            if not items:
                self._emit(subject, pred, nil)
                continue
            nodes = [self._fresh_bnode() for _ in items]
            for i, it in enumerate(items):
                self._emit(nodes[i], RDF_NS + "first", (it[0], it[1]), it[2], it[3])
                self._emit(
                    nodes[i],
                    RDF_NS + "rest",
                    nodes[i + 1] if i + 1 < len(nodes) else nil,
                )
            self._emit(subject, pred, nodes[0])
        mapping.clear()

    def close(self):
        # any XML literal still open at EOF (unclosed element) captures
        # through the end of the document — lenient-recovery semantics
        self._xml_flush_end = len(self._raw)
        super().close()
        root = self.stack[0]
        if root.list_mapping:
            self._emit_lists(root.list_mapping, root.list_subject)


class _JsonLdIslandFinder(HTMLParser):
    """Collect the raw text of ``<script type="application/ld+json">``
    elements. ``html.parser`` switches to CDATA mode inside ``script``, so
    the island body arrives verbatim via ``handle_data``."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._in_island = False
        self._buf: list[str] = []
        self.islands: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "script":
            # same first-wins duplicate-attribute fold as _RdfaParser so
            # both passes over one HTML document classify it identically
            mime = next(
                ((v or "") for k, v in attrs if k == "type"), ""
            ).strip().lower()
            if mime == "application/ld+json":
                self._in_island = True
                self._buf = []

    def handle_data(self, data):
        if self._in_island:
            self._buf.append(data)

    def handle_endtag(self, tag):
        if tag == "script" and self._in_island:
            self._in_island = False
            self.islands.append("".join(self._buf))


def _parse_jsonld_islands(
    text: str, base_iri: str | None, seq_start: int
) -> list[tuple]:
    from rdf_dataset_fragmenter_js_spark.sources.jsonld import (
        parse_jsonld_documents,
    )

    finder = _JsonLdIslandFinder()
    finder.feed(text)
    finder.close()
    docs = [i for i in finder.islands if i.strip()]
    if not docs:
        return []
    out = []
    for i, q in enumerate(parse_jsonld_documents(docs, base_iri=base_iri)):
        s_type, s, p, o_type, o, dt, lang, g, _seq = q
        # The JSON-LD islands and the RDFa annotations are separate
        # serializations sharing one file, so their blank-node scopes are
        # DISJOINT (RDF Concepts: labels are document-scoped per parser —
        # rdf-parse gives each sub-parser its own bnode factory). RDFa-side
        # labels start with 'b_'/'genid_rdfa_'/'genid_html_'; prefixing the
        # island side with 'json_' keeps the namespaces provably disjoint
        # while staying PN_CHARS-legal.
        if s_type == "BlankNode":
            s = "json_" + s
        if o_type == "BlankNode":
            o = "json_" + o
        out.append((s_type, s, p, o_type, o, dt, lang, g, seq_start + i))
    return out


def parse_rdfa(
    text: str, base_iri: str | None = None, extract_script_jsonld: bool = True
) -> list[tuple]:
    """Parse RDFa-annotated (X)HTML → quad tuples in the engine schema
    (s_type, s, p, o_type, o, o_datatype, o_lang, g, seq).

    Like rdf-parse's ``text/html`` route, the HTML surface yields BOTH the
    RDFa annotations and any JSON-LD data islands
    (``<script type="application/ld+json">``, JSON-LD 1.1 §HTML content,
    extractAllScripts semantics: all islands form one merged document with
    a shared authored-bnode scope). ``extract_script_jsonld=False`` gives
    annotations only."""
    p = _RdfaParser(base_iri)
    p.feed(text)
    p.close()
    quads = p.quads
    if extract_script_jsonld:
        quads = quads + _parse_jsonld_islands(text, base_iri, len(quads))
    return quads


def serialize_rdfa(rows: list[tuple]) -> str:
    """Quad tuples → RDFa-annotated HTML (one element per quad:
    ``meta/@content`` for literals; resource objects rotate through THREE
    shapes — ``link/@property``, ``link/@rel`` with explicit resource, and
    a *hanging* ``rel`` div completed by a descendant ``@about`` — so a
    round-trip exercises all three resource-object code paths in
    :func:`parse_rdfa`, including §7.5 incomplete-triple chaining).
    Round-trips through :func:`parse_rdfa` — property-tested; used by the
    ``source_rdfa_roundtrip`` gate entry. RDFa has no named-graph syntax,
    so quads with a graph are rejected."""
    import html as _html

    def esc(v: str) -> str:
        return _html.escape(v, quote=True)

    def ref(t_type: str, value: str) -> str:
        return f"_:{value}" if t_type == "BlankNode" else value

    parts = ["<html><body>"]
    n_links = 0
    for r in rows:
        s_type, s, p, o_type, o, dt, lang, g = r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7]
        if g is not None:
            raise ValueError(
                f"RDFa cannot express named graphs (quad in graph {g!r}) — "
                "serialize as TriG/N-Quads/JSON-LD instead"
            )
        about, prop = esc(ref(s_type, s)), esc(p)
        if o_type == "Literal":
            if dt == RDF_NS + "XMLLiteral":
                # XML literals serialize as the element's raw inner markup
                # (parse_rdfa captures it verbatim); the value must itself
                # be well-formed markup that contains no stray `</div>`
                parts.append(
                    f'<div about="{about}" property="{prop}" '
                    f'datatype="{esc(dt)}">{o}</div>'
                )
                continue
            attrs = f' datatype="{esc(dt)}"' if dt else ""
            if lang:
                attrs += f' lang="{lang}"'
            parts.append(
                f'<meta about="{about}" property="{prop}" content="{esc(o)}"{attrs}>'
            )
        else:
            # rotate property= / rel= / hanging-rel — an absolute-IRI @rel
            # resolves identically, so the round-trip covers §7.5 step 6
            # (explicit resource) AND steps 10+12 (incomplete-triple
            # completion by a descendant @about)
            obj = esc(ref(o_type, o))
            shape = n_links % 3
            n_links += 1
            if shape == 2:
                parts.append(
                    f'<div about="{about}" rel="{prop}">'
                    f'<span about="{obj}"></span></div>'
                )
            else:
                link_attr = "rel" if shape else "property"
                parts.append(
                    f'<link about="{about}" {link_attr}="{prop}" resource="{obj}">'
                )
    parts.append("</body></html>")
    return "\n".join(parts)


def read_rdfa(spark, path: str, base_iri: str | None = None):
    """``QuadSourceFile`` for ``.html``/``.xhtml`` — per-file parsed
    (driver for one file, distributed for globs/directories); ``base_iri``
    defaults per file to its URI like rdf-parse's ``path`` option."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, "rdfa", base_iri)
