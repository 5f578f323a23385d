"""Turtle + TriG source (``lib/io/QuadSourceFile.ts:19-25`` delegates
non-N-Quads serializations to rdf-parse; Turtle is by far the most common
of them in real configs, and TriG — its named-graph superset — is the one
graph-carrying text format rdf-parse also reads).

Turtle is NOT line-splittable (prefix state, multi-line literals, nested
blank-node property lists), so unlike the vectorized N-Quads reader this
parser works whole-file: a single file parses on the DRIVER (the
config-sized ontology case), while globs/directories parse in PARALLEL on
executors — one task per file via ``sources/driverfile.py``. A size guard
warns when a single file is large enough that converting to N-Quads
(splittable, vectorized) is the right move.

Grammar coverage (W3C Turtle): ``@prefix``/``@base`` + SPARQL-style
``PREFIX``/``BASE``, prefixed names with ``\\``-escaped and ``%``-encoded
local parts, ``a``, predicate-object lists (``;``), object lists (``,``),
all four string quoting forms with escapes, language tags, typed literals,
numeric (integer/decimal/double) and boolean shorthands, blank-node labels,
anonymous blank nodes and property lists (``[ … ]``), and collections
(``( … )`` → rdf:first/rest/nil chains). Relative IRIs resolve against the
active base (RFC 3986, the same resolver as the engine's column path).
TriG additions: ``GRAPH <g> { … }``, label-prefixed ``<g> { … }`` and
anonymous ``{ … }`` graph blocks; blank-node graph labels (``_:b { … }``,
``GRAPH _:b``, ``[] { … }``) encode in-band as ``_:<label>`` strings in
the g column — the same scheme the model uses for s/o bnode labels, with
the ``_:`` marker kept because g has no companion type column.
"""

from __future__ import annotations

import re

from rdf_dataset_fragmenter_js_spark.functions.iri import resolve_iri

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
LOG_NS = "http://www.w3.org/2000/10/swap/log#"  # N3 '=>' / '<=' verbs
OWL_NS = "http://www.w3.org/2002/07/owl#"  # N3 '=' verb

_IRIREF = re.compile(r'<([^<>"{}|^`\\\x00-\x20]*)>')
_BNODE = re.compile(r"_:([A-Za-z0-9_][A-Za-z0-9_.\-]*)")
_LANGTAG = re.compile(r"@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)")
# Turtle grammar: DOUBLE (has exponent) | DECIMAL (dot REQUIRES trailing
# digits) | INTEGER — so 'ex:p 1.' lexes as integer 1 + statement dot
_NUMBER = re.compile(
    r"[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+|\d*\.\d+|\d+)"
)
# pragmatic PNAME: prefix label (no colon) ':' local part with escapes; the
# local part may contain dots but not END with an unescaped one — enforced
# by _strip_trailing_dots after the greedy match
_PNAME = re.compile(
    r"((?:[A-Za-z_][A-Za-z0-9_.\-]*)?):((?:[A-Za-z0-9_\-.~]|%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%])*)"
)
_DIRECTIVE = re.compile(r"@prefix|@base|(?i:PREFIX(?=\s))|(?i:BASE(?=\s))")
_UCHAR = re.compile(r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})")

_STRING_ESCAPES = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}


def _unescape_uchar(s: str) -> str:
    return _UCHAR.sub(
        lambda m: chr(int(m.group(1) or m.group(2), 16)), s
    )


def _unescape_string(s: str) -> str:
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            if nxt in _STRING_ESCAPES:
                out.append(_STRING_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "u" and i + 6 <= n:
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 10 <= n:
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
            raise ValueError(f"Bad string escape \\{nxt}")
        out.append(c)
        i += 1
    return "".join(out)


class TurtleParser:
    """Single-pass recursive-descent parser over the document text.

    Also covers TriG (W3C TriG is a syntactic superset of Turtle): graph
    blocks ``GRAPH <g> { … }``, label-prefixed ``<g> { … }`` and anonymous
    ``{ … }`` (default graph) populate the quad schema's ``g`` column.
    Blank-node graph LABELS (``_:b { … }``, ``GRAPH _:b``, ANON ``[]``)
    encode as ``_:<label>`` in g — marker kept in-band because g has no
    companion type column (quads.py); the N-Quads reader/serializer and
    the TriG fragment writer share the convention."""

    def __init__(self, text: str, base_iri: str | None = None, n3: bool = False):
        self.text = text
        self.pos = 0
        self.len = len(text)
        self.base = base_iri
        self.prefixes: dict[str, str] = {}
        self.quads: list[tuple] = []
        self._bnode_n = 0
        self.graph: str | None = None  # active TriG graph / N3 formula
        #: N3 mode: '{ … }' is a FORMULA term (quoted graph named by a
        #: fresh bnode, n3.js semantics), never a TriG graph block; the
        #: verbs '=>' / '<=' (log:implies, reversed) and '=' (owl:sameAs)
        #: are recognized
        self.n3 = n3

    # -- lexing helpers ----------------------------------------------------

    def _skip_ws(self) -> None:
        while self.pos < self.len:
            c = self.text[self.pos]
            if c in " \t\r\n":
                self.pos += 1
            elif c == "#":
                nl = self.text.find("\n", self.pos)
                self.pos = self.len if nl < 0 else nl + 1
            else:
                return

    def _error(self, msg: str) -> ValueError:
        line = self.text.count("\n", 0, self.pos) + 1
        ctx = self.text[self.pos : self.pos + 30].replace("\n", "\\n")
        return ValueError(f"Turtle parse error at line {line} near '{ctx}': {msg}")

    def _expect(self, lit: str) -> None:
        self._skip_ws()
        if not self.text.startswith(lit, self.pos):
            raise self._error(f"expected '{lit}'")
        self.pos += len(lit)

    def _peek(self) -> str:
        self._skip_ws()
        return self.text[self.pos] if self.pos < self.len else ""

    def _match(self, rx: re.Pattern):
        m = rx.match(self.text, self.pos)
        if m:
            self.pos = m.end()
        return m

    # -- terms -------------------------------------------------------------

    def _strip_trailing_dots(self, value: str) -> str:
        """PN_LOCAL / BLANK_NODE_LABEL may contain dots but must not end
        with an unescaped one — the greedy lexer over-consumes the
        statement-terminating '.', so give trailing unescaped dots back to
        the input ('ex:o.' → name 'ex:o' + terminator)."""
        while value.endswith(".") and not value.endswith("\\."):
            value = value[:-1]
            self.pos -= 1
        return value

    def _resolve(self, iri: str) -> str:
        if self.base is None:
            return iri
        if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            return iri
        return resolve_iri(iri, self.base)

    def _fresh_bnode(self) -> str:
        # PN_CHARS-only so the N-Quads sink can serialize the label for
        # conformant downstream parsers; cross-file uniqueness comes from
        # the per-file namespacing in sources/driverfile.py
        self._bnode_n += 1
        return f"genid_ttl_{self._bnode_n}"

    @staticmethod
    def _authored_bnode(label: str) -> str:
        # Document-authored labels live in a namespace disjoint from the
        # generated 'genid_ttl_N' ones (same scheme as sources/jsonld.py):
        # a document authoring '_:genid_ttl_1' next to an anonymous '[...]'
        # must stay two distinct blank nodes. 'b_'+label is injective and
        # PN_CHARS-legal, and 'genid_ttl_*' never starts with 'b_'.
        return "b_" + label

    def _read_iri(self) -> str | None:
        """IRIREF or prefixed name → absolute IRI string, or None."""
        self._skip_ws()
        m = self._match(_IRIREF)
        if m:
            return self._resolve(_unescape_uchar(m.group(1)))
        m = self._match(_PNAME)
        if m:
            prefix, local = m.group(1), m.group(2)
            if prefix not in self.prefixes:
                raise self._error(f"undefined prefix '{prefix}:'")
            local = self._strip_trailing_dots(local)
            local = re.sub(r"\\(.)", r"\1", local)  # PN_LOCAL_ESC
            return self.prefixes[prefix] + local
        return None

    def _read_string(self) -> str | None:
        for quote in ('"""', "'''", '"', "'"):
            if self.text.startswith(quote, self.pos):
                start = self.pos + len(quote)
                i = start
                while True:
                    i = self.text.find(quote, i)
                    if i < 0:
                        raise self._error("unterminated string")
                    # count preceding backslashes
                    j = i - 1
                    while j >= start and self.text[j] == "\\":
                        j -= 1
                    if (i - 1 - j) % 2 == 0:
                        break
                    i += 1
                if len(quote) == 3:
                    # STRING_LITERAL_LONG maximal munch: up to two quote
                    # chars may belong to the CONTENT right before the
                    # closing delimiter ('"""abc""""' → content 'abc"')
                    extra = 0
                    while extra < 2 and self.text.startswith(quote[0], i + 3):
                        i += 1
                        extra += 1
                raw = self.text[start:i]
                if len(quote) == 1 and ("\n" in raw or "\r" in raw):
                    raise self._error("newline in single-quoted string")
                self.pos = i + len(quote)
                return _unescape_string(raw)
        return None

    def _read_object(self):
        """→ (o_type, value, datatype, lang)."""
        self._skip_ws()
        c = self._peek()
        if c == "[":
            return ("BlankNode", self._read_bnode_property_list(), None, None)
        s = self._read_string()
        if s is not None:
            self._skip_ws()
            if self.text.startswith("^^", self.pos):
                self.pos += 2
                dt = self._read_iri()
                if dt is None:
                    raise self._error("expected datatype IRI after ^^")
                return ("Literal", s, dt, None)
            m = self._match(_LANGTAG)
            if m:
                return ("Literal", s, None, m.group(1))
            return ("Literal", s, None, None)
        m = self._match(_BNODE)
        if m:
            return ("BlankNode", self._authored_bnode(self._strip_trailing_dots(m.group(1))), None, None)
        # booleans / numbers before prefixed names ('true' parses as PNAME
        # only with a colon, but check cheap literals first anyway)
        for word, dt in (("true", XSD + "boolean"), ("false", XSD + "boolean")):
            if self.text.startswith(word, self.pos) and not re.match(
                r"[A-Za-z0-9_:\-]", self.text[self.pos + len(word) : self.pos + len(word) + 1] or " "
            ):
                self.pos += len(word)
                return ("Literal", word, dt, None)
        m = self._match(_NUMBER)
        if m:
            lex = m.group(0)
            if "e" in lex.lower():
                dt = XSD + "double"
            elif "." in lex:
                dt = XSD + "decimal"
            else:
                dt = XSD + "integer"
            return ("Literal", lex, dt, None)
        iri = self._read_iri()
        if iri is not None:
            return ("NamedNode", iri, None, None)
        raise self._error("expected RDF term")

    # -- emit --------------------------------------------------------------

    def _emit(self, s_type, s, p, o_type, o, dt, lang):
        self.quads.append(
            (s_type, s, p, o_type, o, dt, lang, self.graph, len(self.quads))
        )

    def _read_formula(self) -> str:
        """N3 formula '{ … }': contents are quoted into a fresh bnode-named
        graph ('_:<label>' in the g column) and the formula participates in
        the enclosing statement as that blank node — n3.js's projection of
        N3 onto RDF/JS quads. Nestable (graph save/restore)."""
        self._expect("{")
        label = self._fresh_bnode()
        outer = self.graph
        self.graph = "_:" + label
        try:
            while True:
                self._skip_ws()
                if self._peek() == "}":
                    break
                if self.pos >= self.len:
                    raise self._error("unterminated formula (expected '}')")
                self._read_triples(in_graph=True)
        finally:
            self.graph = outer
        self._expect("}")
        return label

    def _read_object_term(self):
        """Full object handling including collections (which emit quads and
        return their head term)."""
        self._skip_ws()
        if self.n3 and self._peek() == "{":
            return ("BlankNode", self._read_formula(), None, None)
        if self._peek() == "(":
            self._expect("(")
            items = []
            while self._peek() != ")":
                items.append(self._read_object_term())
            self._expect(")")
            if not items:
                return ("NamedNode", RDF_NS + "nil", None, None)
            heads = [self._fresh_bnode() for _ in items]
            for i, (it, head) in enumerate(zip(items, heads)):
                self._emit("BlankNode", head, RDF_NS + "first", it[0], it[1], it[2], it[3])
                if i + 1 < len(heads):
                    self._emit("BlankNode", head, RDF_NS + "rest", "BlankNode", heads[i + 1], None, None)
                else:
                    self._emit("BlankNode", head, RDF_NS + "rest", "NamedNode", RDF_NS + "nil", None, None)
            return ("BlankNode", heads[0], None, None)
        return self._read_object()

    def _read_bnode_property_list(self) -> str:
        self._expect("[")
        label = self._fresh_bnode()
        if self._peek() != "]":
            self._read_predicate_object_list("BlankNode", label)
        self._expect("]")
        return label

    def _read_verb(self) -> tuple[str, bool]:
        """Verb → (predicate IRI, reversed). ``reversed`` only in N3 mode
        for '<=' (``B <= A`` states ``A log:implies B``, n3.js)."""
        self._skip_ws()
        if self.text.startswith("a", self.pos) and not re.match(
            r"[A-Za-z0-9_:\-]", self.text[self.pos + 1 : self.pos + 2] or " "
        ):
            self.pos += 1
            return RDF_NS + "type", False
        if self.n3:
            if self.text.startswith("=>", self.pos):
                self.pos += 2
                return LOG_NS + "implies", False
            if self.text.startswith("<=", self.pos):
                # must be checked BEFORE IRIREF: '<=' would otherwise lex
                # as an IRI open bracket
                self.pos += 2
                return LOG_NS + "implies", True
            if self.text.startswith("=", self.pos):
                self.pos += 1
                return OWL_NS + "sameAs", False
        iri = self._read_iri()
        if iri is None:
            raise self._error("expected predicate")
        return iri, False

    def _read_predicate_object_list(self, s_type: str, s: str) -> None:
        while True:
            p, reverse = self._read_verb()
            while True:
                o_type, o, dt, lang = self._read_object_term()
                if reverse:
                    self._emit(o_type, o, p, s_type, s, None, None)
                else:
                    self._emit(s_type, s, p, o_type, o, dt, lang)
                self._skip_ws()
                if self._peek() == ",":
                    self._expect(",")
                    continue
                break
            self._skip_ws()
            if self._peek() == ";":
                # swallow any run of semicolons; list may end here
                while self._peek() == ";":
                    self._expect(";")
                if self._peek() in (".", "]", ""):
                    return
                continue
            return

    # -- statements --------------------------------------------------------

    def _read_directive(self) -> bool:
        save = self.pos
        self._skip_ws()
        m = self._match(_DIRECTIVE)
        if not m:
            self.pos = save
            return False
        kind = m.group(0).lower().lstrip("@")
        if kind == "prefix":
            self._skip_ws()
            pm = self._match(_PNAME)
            if not pm or pm.group(2):
                raise self._error("expected 'prefix:' in @prefix directive")
            self._skip_ws()
            im = self._match(_IRIREF)
            if not im:
                raise self._error("expected IRI in @prefix directive")
            self.prefixes[pm.group(1)] = self._resolve(_unescape_uchar(im.group(1)))
        else:  # base
            self._skip_ws()
            im = self._match(_IRIREF)
            if not im:
                raise self._error("expected IRI in @base directive")
            # a relative @base resolves against the previous base
            self.base = self._resolve(_unescape_uchar(im.group(1)))
        if m.group(0).startswith("@"):
            self._expect(".")
        return True

    def _end_statement(self, in_graph: bool) -> None:
        """Statements end with '.'; inside a TriG graph block the final
        '.' is optional before '}' (TriG triplesBlock grammar)."""
        self._skip_ws()
        if in_graph and self._peek() == "}":
            return
        self._expect(".")

    def _read_triples(self, in_graph: bool = False) -> None:
        self._skip_ws()
        c = self._peek()
        if self.n3 and c == "{":
            # N3 formula as SUBJECT: '{ … } => { … } .'
            label = self._read_formula()
            self._read_predicate_object_list("BlankNode", label)
            self._end_statement(in_graph)
            return
        if c == "[":
            # TriG labelOrSubject allows an ANON graph label: '[] { … }'
            # opens a graph block named by a fresh blank node
            anon = re.match(r"\[\s*\]\s*\{", self.text[self.pos :])
            if anon and not in_graph and not self.n3:
                self.pos += anon.end() - 1  # leave '{' for the block reader
                self._read_graph_block("_:" + self._fresh_bnode())
                return
            label = self._read_bnode_property_list()
            self._skip_ws()
            if self._peek() not in (".", "}"):
                self._read_predicate_object_list("BlankNode", label)
            self._end_statement(in_graph)
            return
        if c == "(":
            o_type, head, _, _ = self._read_object_term()
            self._read_predicate_object_list(o_type, head)
            self._end_statement(in_graph)
            return
        m = self._match(_BNODE)
        if m:
            label = self._authored_bnode(self._strip_trailing_dots(m.group(1)))
            if not in_graph and not self.n3 and self._peek() == "{":
                # TriG labelOrSubject: blank-node graph label — encoded
                # in-band as '_:<label>' in the g column (the same scheme
                # the model uses for s/o bnodes, marker included because
                # g has no companion type column)
                self._read_graph_block("_:" + label)
                return
            self._read_predicate_object_list("BlankNode", label)
            self._end_statement(in_graph)
            return
        iri = self._read_iri()
        if iri is None:
            raise self._error("expected subject")
        if not in_graph and not self.n3 and self._peek() == "{":
            self._read_graph_block(iri)  # TriG: '<g> { … }' without GRAPH
            return
        self._read_predicate_object_list("NamedNode", iri)
        self._end_statement(in_graph)

    def _read_graph_block(self, graph_iri: str | None) -> None:
        """TriG wrappedGraph: '{' triples* '}' with the given active graph
        (None = explicit default-graph block)."""
        self._expect("{")
        self.graph = graph_iri
        try:
            while True:
                self._skip_ws()
                if self._peek() == "}":
                    break
                if self.pos >= self.len:
                    raise self._error("unterminated graph block (expected '}')")
                self._read_triples(in_graph=True)
        finally:
            self.graph = None
        self._expect("}")

    def _read_graph_keyword(self) -> bool:
        """Consume a case-insensitive 'GRAPH' keyword + label + block."""
        save = self.pos
        self._skip_ws()
        if self.text[self.pos : self.pos + 5].upper() != "GRAPH" or re.match(
            r"[A-Za-z0-9_:\-]", self.text[self.pos + 5 : self.pos + 6] or " "
        ):
            self.pos = save
            return False
        self.pos += 5
        self._skip_ws()
        if self._peek() == "[":  # GRAPH [] { … } — ANON graph label
            m = re.match(r"\[\s*\]", self.text[self.pos :])
            if not m:
                raise self._error("expected '[]' graph label after GRAPH")
            self.pos += m.end()
            self._skip_ws()
            self._read_graph_block("_:" + self._fresh_bnode())
            return True
        m = self._match(_BNODE)
        if m:  # GRAPH _:label { … }
            label = self._authored_bnode(self._strip_trailing_dots(m.group(1)))
            self._skip_ws()
            self._read_graph_block("_:" + label)
            return True
        iri = self._read_iri()
        if iri is None:
            raise self._error("expected graph IRI after GRAPH")
        self._skip_ws()
        self._read_graph_block(iri)
        return True

    def parse(self) -> list[tuple]:
        while True:
            self._skip_ws()
            if self.pos >= self.len:
                return self.quads
            if self._read_directive():
                continue
            if not self.n3:
                if self._peek() == "{":  # TriG anonymous default-graph block
                    self._read_graph_block(None)
                    continue
                if self._read_graph_keyword():
                    continue
            self._read_triples()


def parse_turtle(text: str, base_iri: str | None = None) -> list[tuple]:
    """Parse a Turtle document → list of quad tuples in the engine schema
    (s_type, s, p, o_type, o, o_datatype, o_lang, g, seq)."""
    return TurtleParser(text, base_iri=base_iri).parse()


def _scan_n3_only_tokens(text: str) -> str | None:
    """Return the first UNSUPPORTED N3 construct in ``text`` (outside
    strings, IRIs and comments), or None. Formulas ('{ … }'), '=>' / '<='
    / '=' verbs are supported by the grammar (n3.js-style quad
    projection); what remains outside the subset is explicit
    quantification, '@keywords', and ?-variables — constructs whose
    meaning a quad stream cannot carry — which fail fast as a structured
    error instead of mis-parsing."""
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "#":  # comment to end of line
            j = text.find("\n", i)
            i = n if j < 0 else j + 1
        elif c == "<":
            if text.startswith("<=", i):
                i += 2  # implication verb, handled by the grammar
                continue
            j = text.find(">", i)
            i = n if j < 0 else j + 1
        elif c in "\"'":
            quote = text[i] * 3 if text.startswith(c * 3, i) else c
            j = i + len(quote)
            while j < n:
                if text[j] == "\\":
                    j += 2
                    continue
                if text.startswith(quote, j):
                    j += len(quote)
                    break
                j += 1
            i = j
        elif c == "\\":
            i += 2  # PN_LOCAL escape (ex:a\=b is legal Turtle), not a token
        elif c == "?":
            return "?-variable (implicit universal quantification)"
        elif c == "@":
            for kw in ("@forAll", "@forSome", "@keywords"):
                if text.startswith(kw, i):
                    return kw
            i += 1
        else:
            i += 1
    return None


def parse_n3(text: str, base_iri: str | None = None) -> list[tuple]:
    """Parse Notation3 — the slice of N3 that projects onto RDF quads,
    matching what rdf-parse's text/n3 path (n3.js) yields
    (QuadSourceFile.ts:19-25): the full Turtle grammar, plus formulas
    ('{ … }' quoted graphs, named by fresh blank nodes in the g column and
    participating in the outer statement as that bnode term), the
    implication verbs '=>' / '<=' (log:implies, '<=' reversed), and '='
    (owl:sameAs). N3 constructs whose semantics a quad stream cannot carry
    — '@forAll' / '@forSome' / '@keywords' and ?-variables — fail fast
    with the offending token."""
    bad = _scan_n3_only_tokens(text)
    if bad is not None:
        raise NotImplementedError(
            f"N3 construct {bad} is outside the quad-projectable subset "
            "this engine parses — quantified N3 logic does not project "
            "onto RDF quads"
        )
    return TurtleParser(text, base_iri=base_iri, n3=True).parse()


def read_n3(spark, path: str, base_iri: str | None = None):
    """``QuadSourceFile`` for ``.n3`` — whole-file parsed like Turtle."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, "n3", base_iri)


def read_turtle(spark, path: str, base_iri: str | None = None):
    """``QuadSourceFile`` for ``.ttl``/``.trig`` — whole-file parsed (Turtle
    is not line-splittable): one file on the driver, globs/directories in
    parallel on executors. ``base_iri`` defaults per file to its URI, like
    rdf-parse's ``path`` option."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, "turtle", base_iri)
