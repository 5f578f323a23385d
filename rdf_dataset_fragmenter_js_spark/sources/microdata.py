"""HTML Microdata source (the reference's rdf-parse v3 bundles
microdata-rdf-streaming-parser next to the RDFa parser for ``text/html``;
``lib/io/QuadSourceFile.ts:19-25``). Driver/executor per-file parsing on
stdlib ``html.parser``, like ``sources/rdfa.py``.

Coverage — the registry-less core of the W3C *Microdata to RDF* note:

* ``itemscope`` items (blank nodes, or ``itemid`` subjects resolved
  against the base IRI);
* ``itemtype`` (space-separated absolute IRIs → ``rdf:type``);
* ``itemprop`` names: absolute-IRI names pass through; plain names
  concatenate onto the item's vocabulary (derived from the first
  ``itemtype``: up to and including ``#``, else the last ``/``); names
  with neither are dropped like the note's unresolvable terms;
* values per element kind: ``a``/``area``/``link`` → ``href`` IRI;
  ``img``/``audio``/``video``/``embed``/``iframe``/``source``/``track``
  → ``src`` IRI; ``meta`` → ``content``; ``data``/``meter`` → ``value``;
  ``time`` → ``datetime`` (or text); anything else → text content
  (``lang``-inherited plain literal);
* nested ``itemscope`` + ``itemprop`` → the nested item as object;
* ``itemref``: the HTML spec's item-properties crawl — the item's
  subtree plus each element referenced by id, property names resolved
  against the REFERRING item's vocabulary, ``lang`` inherited from the
  referenced element's own document ancestry, reference loops dropped
  per the spec's microdata-error rule, and an element shared by two
  items (or referenced twice) generating its triples exactly once with
  one stable term.

The document is parsed into a lightweight element tree first (``itemref``
is a by-id forward reference, so properties cannot be resolved in one
streaming pass), then evaluated in tree order. Microdata has no named
graphs and no typed literals; all literals are plain or language-tagged,
matching the note.
"""

from __future__ import annotations

from collections import deque
from html.parser import HTMLParser

from rdf_dataset_fragmenter_js_spark.sources._htmlbase import (
    ABSOLUTE_IRI as _ABSOLUTE_IRI,
)
from rdf_dataset_fragmenter_js_spark.sources._htmlbase import VOID_ELEMENTS

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_SRC_ELEMENTS = frozenset("img audio video embed iframe source track".split())


def _vocab_of(type_iri: str) -> str:
    """Vocabulary base for plain property names, per the note's
    registry-less rule: through the ``#``, else through the last ``/``."""
    if "#" in type_iri:
        return type_iri[: type_iri.index("#") + 1]
    return type_iri[: type_iri.rfind("/") + 1]


def _prop_iris(itemprop: str, prop_base: str | None) -> list[str]:
    out = []
    for name in itemprop.split():
        if _ABSOLUTE_IRI.match(name):
            out.append(name)
        elif prop_base:
            out.append(prop_base + name)
    return out


class _TNode:
    __slots__ = ("tag", "attrs", "children", "lang", "order")

    def __init__(self, tag, attrs, lang, order):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # _TNode | str
        self.lang = lang
        self.order = order  # document (tree) order index

    def text_content(self) -> str:
        parts: list[str] = []
        stack = [iter(self.children)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, str):
                    parts.append(c)
                else:
                    stack.append(iter(c.children))
                    break
            else:
                stack.pop()
        return "".join(parts)


class _TreeBuilder(HTMLParser):
    """Lenient element-tree builder with the same recovery semantics as
    ``QuadHtmlParser`` (first-wins duplicate attributes, void elements
    never pushed, unmatched end tags ignored, implicit closes pop to the
    nearest matching open tag)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _TNode(None, {}, None, 0)
        self.stack = [self.root]
        self._n = 0

    def handle_starttag(self, tag, attrs):
        a = {}
        for k, v in attrs:
            if k not in a:
                a[k] = v  # presence attrs (itemscope) arrive as None
        parent = self.stack[-1]
        lang = parent.lang
        if "lang" in a or "xml:lang" in a:
            lang = a.get("lang") or a.get("xml:lang") or None
        self._n += 1
        node = _TNode(tag, a, lang, self._n)
        parent.children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.handle_endtag(tag)

    def handle_data(self, data):
        self.stack[-1].children.append(data)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return


class _TreeEvaluator:
    """Microdata-to-RDF over the element tree. Items generate once
    (memoized by element identity), in document order for top-level
    iteration; each item's properties come from the HTML spec's crawl
    (own subtree + ``itemref`` targets, nested-itemscope subtrees
    excluded, results in tree order)."""

    BNODE_PREFIX = "genid_md_"

    def __init__(self, base_iri: str | None):
        self.base = base_iri
        self.quads: list[tuple] = []
        self._bnode_n = 0
        self.by_id: dict[str, _TNode] = {}
        self._terms: dict[int, tuple[str, str]] = {}
        self._generated: set[int] = set()

    def _resolve(self, iri: str) -> str:
        if _ABSOLUTE_IRI.match(iri) or self.base is None:
            return iri
        from rdf_dataset_fragmenter_js_spark.functions.iri import resolve_iri

        return resolve_iri(iri, self.base)

    def _emit(self, s, p, o, lang=None):
        self.quads.append(
            (s[0], s[1], p, o[0], o[1], None, lang, None, len(self.quads))
        )

    def _term_of(self, node: _TNode) -> tuple[str, str]:
        term = self._terms.get(node.order)
        if term is None:
            itemid = node.attrs.get("itemid")
            if itemid:
                term = ("NamedNode", self._resolve(itemid.strip()))
            else:
                self._bnode_n += 1
                term = ("BlankNode", f"{self.BNODE_PREFIX}{self._bnode_n}")
            self._terms[node.order] = term
        return term

    def run(self, root: _TNode) -> None:
        items: list[_TNode] = []
        stack = [iter(root.children)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, str):
                    continue
                node_id = c.attrs.get("id")
                if node_id is not None and node_id not in self.by_id:
                    self.by_id[node_id] = c
                if "itemscope" in c.attrs:
                    items.append(c)
                stack.append(iter(c.children))
                break
            else:
                stack.pop()
        for node in items:
            self._gen_item(node, None)

    def _crawl(self, node: _TNode) -> list[_TNode]:
        """HTML spec 'the properties of an item': BFS over the item's
        children plus each itemref target, skipping nested-itemscope
        subtrees; already-seen elements (reference loops) are dropped —
        the spec's microdata error. Results in tree order."""
        results: list[_TNode] = []
        memory = {node.order}
        pending = deque(c for c in node.children if isinstance(c, _TNode))
        for ref in (node.attrs.get("itemref") or "").split():
            el = self.by_id.get(ref)
            if el is not None:
                pending.append(el)
        while pending:
            current = pending.popleft()
            if current.order in memory:
                continue
            memory.add(current.order)
            if "itemscope" not in current.attrs:
                pending.extend(
                    c for c in current.children if isinstance(c, _TNode)
                )
            if current.attrs.get("itemprop"):
                results.append(current)
        results.sort(key=lambda e: e.order)
        return results

    def _gen_item(self, node: _TNode, inherited_base: str | None):
        term = self._term_of(node)
        if node.order in self._generated:
            return term
        self._generated.add(node.order)
        types = [
            t
            for t in (node.attrs.get("itemtype") or "").split()
            if _ABSOLUTE_IRI.match(t)
        ]
        for t in types:
            self._emit(term, RDF_NS + "type", ("NamedNode", t))
        prop_base = _vocab_of(types[0]) if types else inherited_base
        for e in self._crawl(node):
            props = _prop_iris(e.attrs["itemprop"], prop_base)
            if not props:
                continue
            if "itemscope" in e.attrs:
                o = self._gen_item(e, prop_base)
                for p in props:
                    self._emit(term, p, o)
                continue
            a, lang = e.attrs, e.lang
            if e.tag in ("a", "area", "link") and a.get("href") is not None:
                o, lang = ("NamedNode", self._resolve(a["href"])), None
            elif e.tag in _SRC_ELEMENTS and a.get("src") is not None:
                o, lang = ("NamedNode", self._resolve(a["src"])), None
            elif e.tag == "meta":
                o = ("Literal", a.get("content") or "")
            elif e.tag in ("data", "meter") and a.get("value") is not None:
                o = ("Literal", a["value"])
            elif e.tag == "time" and a.get("datetime") is not None:
                o = ("Literal", a["datetime"])
            else:
                o = ("Literal", e.text_content())
            for p in props:
                self._emit(term, p, o, lang=lang)
        return term


def parse_microdata(text: str, base_iri: str | None = None) -> list[tuple]:
    """Parse HTML Microdata → quad tuples in the engine schema
    (s_type, s, p, o_type, o, o_datatype, o_lang, g, seq)."""
    tb = _TreeBuilder()
    tb.feed(text)
    tb.close()
    ev = _TreeEvaluator(base_iri)
    ev.run(tb.root)
    return ev.quads


def serialize_microdata(rows: list[tuple]) -> str:
    """Quad tuples → Microdata HTML (per-subject ``div[itemscope][itemid]``
    with ``meta``/``link`` children). Only the shapes Microdata can carry:
    IRI subjects, absolute-IRI properties, plain/lang literals and IRI
    objects — no named graphs, datatypes, or blank-node subjects. Used by
    the ``source_microdata_roundtrip`` gate entry."""
    import html as _html

    def esc(v):
        return _html.escape(v, quote=True)

    parts = ["<html><body>"]
    for r in rows:
        s_type, s, p, o_type, o, dt, lang, g = r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7]
        if g is not None or dt is not None or s_type != "NamedNode" or o_type == "BlankNode":
            raise ValueError(
                "microdata cannot express named graphs, typed literals, or "
                f"blank-node subjects/objects (quad {r!r})"
            )
        if p == RDF_NS + "type" and o_type == "NamedNode":
            parts.append(
                f'<div itemscope itemid="{esc(s)}" itemtype="{esc(o)}"></div>'
            )
        elif o_type == "Literal":
            lg = f' lang="{lang}"' if lang else ""
            parts.append(
                f'<div itemscope itemid="{esc(s)}">'
                f'<meta itemprop="{esc(p)}" content="{esc(o)}"{lg}></div>'
            )
        else:
            parts.append(
                f'<div itemscope itemid="{esc(s)}">'
                f'<link itemprop="{esc(p)}" href="{esc(o)}"></div>'
            )
    parts.append("</body></html>")
    return "\n".join(parts)


def read_microdata(spark, path: str, base_iri: str | None = None):
    """Microdata reader for ``.html`` files. NOT auto-dispatched by
    ``read_rdf`` (``.html`` defaults to the RDFa parser, matching
    rdf-parse's primary HTML route) — select it explicitly, or via
    ``"format": "microdata"`` on a ``QuadSourceFile`` spec."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, "microdata", base_iri)
