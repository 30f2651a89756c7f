"""CSS Selectors Level 4 parser → compiled selector plan.

Re-implements, from scratch and in Python, the selector surface the
reference gets from MyCSS (compiled at /root/reference/DOM.xs:249-267,
AST exposed per /root/reference/DOM.xs:453-679). The compiled form is a
plain-Python structure safe to pickle/broadcast to Spark executors
(SURVEY.md §4: compile once on the driver, broadcast the plan).

Structure:
    SelectorList.entries : list[Entry]
    Entry.steps          : list[(combinator, [Simple...])]
        combinator ∈ {None (first step), 'descendant', 'child',
                      'sibling' (+), 'adjacent' (~), 'column' (||)}
        (names follow the reference AST, DOM.xs:470-480: '+' is
        "sibling", '~' is "adjacent")
    Simple: tuple —
        ('tag', name)  ('id', v)  ('class', v)  ('star',)
        ('attr', name, match, value, icase)
        ('pseudo', name)                      # simple pseudo-class
        ('pelement', name)                    # pseudo-element
        ('func', name, payload)               # :not/:has/... payloads
        ('nth', variant, a, b, of:SelectorList|None)
"""

from __future__ import annotations

import re

_ATTR_MATCH = {
    "=": "equal",
    "~=": "include",
    "|=": "dash",
    "^=": "prefix",
    "$=": "suffix",
    "*=": "substring",
}

_SIMPLE_PSEUDO = frozenset(
    """first-child last-child only-child first-of-type last-of-type
    only-of-type root empty link any-link visited hover active focus
    checked disabled enabled required optional read-only read-write
    scope placeholder-shown blank current past future target""".split()
)

# single-colon legacy pseudo-elements (CSS2.1)
_LEGACY_PELEMENTS = frozenset("after before first-letter first-line".split())

_FUNC_SELECTOR_ARG = frozenset("not has matches is where current".split())
_NTH_FUNCS = frozenset(
    """nth-child nth-last-child nth-of-type nth-last-of-type nth-column
    nth-last-column""".split()
)

_IDENT_RE = re.compile(r"(?:[-]?(?:[a-zA-Z_\u0080-\U0010ffff]|\\.)(?:[a-zA-Z0-9_\-\u0080-\U0010ffff]|\\.)*)")
_WS_RE = re.compile(r"[ \t\n\x0c\r]+")

_NTH_RE = re.compile(
    r"""^\s*(?:
        (?P<odd>odd) | (?P<even>even) |
        (?P<ab>(?P<sa>[-+]?)(?P<a>\d*)[nN]\s*(?:(?P<sb>[-+])\s*(?P<b>\d+))?) |
        (?P<bonly>[-+]?\d+)
    )\s*""",
    re.VERBOSE,
)


class SelectorError(ValueError):
    pass


class Entry:
    __slots__ = ("steps", "text")

    def __init__(self, steps, text=""):
        self.steps = steps
        self.text = text

    # -- specificity (reference DOM.xs:2894-2916; values t/0-api.t:1698-1717)
    def specificity(self) -> tuple[int, int, int]:
        a = b = c = 0
        for _comb, simples in self.steps:
            for s in simples:
                k = s[0]
                if k == "id":
                    a += 1
                elif k in ("class", "attr", "pseudo", "func", "nth"):
                    b += 1
                elif k == "tag":
                    c += 1
                elif k == "pelement":
                    c += 1
        return a, b, c

    def pseudo_element(self) -> str | None:
        for _comb, simples in self.steps:
            for s in simples:
                if s[0] == "pelement":
                    return s[1]
        return None

    def to_text(self) -> str:
        out = []
        for i, (comb, simples) in enumerate(self.steps):
            if i > 0:
                if comb == "descendant":
                    out.append(" ")
                else:
                    sym = {"child": ">", "sibling": "+", "adjacent": "~",
                           "column": "||", "begin": "^"}[comb]
                    out.append(" " + sym + " ")
            out.append(_compound_text(simples))
        return "".join(out)

    def to_ast(self, invalid: bool = False) -> list:
        """Flat chain of dicts matching the reference AST
        (/root/reference/DOM.xs:453-679)."""
        chain: list[dict] = []
        for i, (comb, simples) in enumerate(self.steps):
            if i > 0:
                chain.append({"type": "combinator", "value": comb})
            for s in simples:
                chain.append(_simple_ast(s, invalid))
        return chain


class SelectorList:
    __slots__ = ("entries", "valid", "source")

    def __init__(self, entries, valid=True, source=""):
        self.entries = entries
        self.valid = valid
        self.source = source

    def to_text(self) -> str:
        return ", ".join(e.to_text() for e in self.entries)

    def to_ast(self) -> list:
        return [e.to_ast(invalid=not self.valid) for e in self.entries]

    def __len__(self):
        return len(self.entries)


def _simple_ast(s, invalid: bool) -> dict:
    d: dict = {}
    if invalid:
        d["invalid"] = 1
    k = s[0]
    if k == "tag" or k == "star":
        d.update(type="tag", value=s[1] if k == "tag" else "*")
    elif k == "id":
        d.update(type="id", value=s[1])
    elif k == "class":
        d.update(type="class", value=s[1])
    elif k == "pseudo":
        d.update(type="pseudo-class", value=s[1])
    elif k == "pelement":
        d.update(type="pseudo-element", value=s[1])
    elif k == "attr":
        d.update(type="attribute", name=s[1],
                 value=s[3] if s[3] is not None else "",
                 match=s[2] if s[2] != "exists" else "equal",
                 ignoreCase=1 if s[4] else 0)
    elif k == "nth":
        d.update(type="function", name="nth-child", a=s[2], b=s[3])
        if s[4] is not None:
            d["of"] = s[4].to_ast()
    elif k == "func":
        name = s[1]
        if name in _FUNC_SELECTOR_ARG or name == "contains":
            payload = s[2]
            d.update(type="function",
                     name="matches" if name in ("is", "where") else name,
                     value=payload.to_ast() if isinstance(payload, SelectorList)
                     else payload)
        elif name == "lang":
            d.update(type="function", name="lang", value=list(s[2]))
        elif name == "dir":
            d.update(type="function", name="dir", value=s[2])
        elif name == "drop":
            d.update(type="function", name="drop", value=list(s[2]))
        else:
            d.update(type="function", name="unknown")
    return d


def _compound_text(simples) -> str:
    out = []
    for s in simples:
        k = s[0]
        if k == "star":
            out.append("*")
        elif k == "tag":
            out.append(s[1])
        elif k == "id":
            out.append("#" + s[1])
        elif k == "class":
            out.append("." + s[1])
        elif k == "attr":
            if s[2] == "exists":
                out.append("[%s]" % s[1])
            else:
                sym = {v: k2 for k2, v in _ATTR_MATCH.items()}[s[2]]
                v = "[%s %s %s" % (s[1], sym, s[3])
                if s[4]:
                    v += " i"
                out.append(v + "]")
        elif k == "pseudo":
            out.append(":" + s[1])
        elif k == "pelement":
            out.append("::" + s[1])
        elif k == "nth":
            out.append(":%s(%s%s)" % (
                s[1], _nth_text(s[2], s[3]),
                " of " + s[4].to_text() if s[4] is not None else ""))
        elif k == "func":
            name, payload = s[1], s[2]
            if isinstance(payload, SelectorList):
                out.append(":%s(%s)" % (name, payload.to_text()))
            elif isinstance(payload, (list, tuple)):
                out.append(":%s(%s)" % (name, ", ".join(payload)))
            else:
                out.append(":%s(%s)" % (name, payload))
    return "".join(out) or "*"


def _nth_text(a: int, b: int) -> str:
    if a == 0:
        return str(b)
    s = ("%dn" % a) if a != 1 else "n"
    if a == -1:
        s = "-n"
    if b:
        s += "%+d" % b
    return s


# ---------------------------------------------------------------------------
# tokenizer/parser
# ---------------------------------------------------------------------------
_UNESCAPE_RE = re.compile(r"\\([0-9a-fA-F]{1,6}\s?|.)")


def _unescape(ident: str) -> str:
    def sub(m):
        body = m.group(1)
        h = body.rstrip()
        if re.fullmatch(r"[0-9a-fA-F]{1,6}", h):
            return chr(int(h, 16))
        return body

    return _UNESCAPE_RE.sub(sub, ident)


class _P:
    def __init__(self, s: str):
        self.s = s
        self.i = 0
        self.n = len(s)

    def ws(self) -> bool:
        m = _WS_RE.match(self.s, self.i)
        if m:
            self.i = m.end()
            return True
        return False

    def peek(self) -> str:
        return self.s[self.i] if self.i < self.n else ""

    def ident(self) -> str | None:
        m = _IDENT_RE.match(self.s, self.i)
        if not m:
            return None
        self.i = m.end()
        v = m.group(0)
        return _unescape(v) if "\\" in v else v

    def string_or_ident(self) -> str | None:
        c = self.peek()
        if c in "\"'":
            j = self.s.find(c, self.i + 1)
            if j == -1:
                raise SelectorError("unterminated string")
            v = self.s[self.i + 1: j]
            self.i = j + 1
            return _unescape(v) if "\\" in v else v
        return self.ident()

    def expect(self, ch: str) -> None:
        if not self.s.startswith(ch, self.i):
            raise SelectorError("expected %r at %d" % (ch, self.i))
        self.i += len(ch)

    def balanced_paren(self) -> str:
        """Consume up to and including the matching ')'; returns inner text."""
        depth = 1
        start = self.i
        while self.i < self.n:
            c = self.s[self.i]
            if c in "\"'":
                j = self.s.find(c, self.i + 1)
                if j == -1:
                    raise SelectorError("unterminated string")
                self.i = j + 1
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    inner = self.s[start: self.i]
                    self.i += 1
                    return inner
            self.i += 1
        raise SelectorError("unbalanced parens")


def parse_selector(text: str) -> SelectorList:
    """Parse a selector group. Invalid input returns a SelectorList with
    valid=False (reference keeps a bad-selector flag, DOM.xs:2763-2769)."""
    try:
        entries = _parse_group(text)
        if not entries:
            return SelectorList([], valid=False, source=text)
        return SelectorList(entries, valid=True, source=text)
    except SelectorError:
        return SelectorList([], valid=False, source=text)


def _parse_group(text: str) -> list[Entry]:
    p = _P(text)
    entries = []
    while True:
        e = _parse_entry(p)
        if e is None:
            raise SelectorError("empty entry")
        entries.append(e)
        p.ws()
        if p.peek() == ",":
            p.i += 1
            continue
        if p.i >= p.n:
            break
        raise SelectorError("trailing garbage at %d" % p.i)
    return entries


def _parse_group_relative(text: str) -> list[Entry]:
    """Relative selector group (the :has() argument): entries may lead
    with a combinator; every entry is rewritten to start with an
    explicit ':scope' step so the matcher anchors it at the element
    under test."""
    p = _P(text)
    entries = []
    while True:
        p.ws()
        comb: str | None = None
        c = p.peek()
        if c == ">" and p.s.startswith(">>", p.i):
            p.i += 2
            comb = "descendant"
        elif c == ">":
            p.i += 1
            comb = "child"
        elif c == "+":
            p.i += 1
            comb = "sibling"
        elif c == "~":
            p.i += 1
            comb = "adjacent"
        elif c == "|" and p.s.startswith("||", p.i):
            p.i += 2
            comb = "column"
        p.ws()
        e = _parse_entry(p)
        if e is None:
            raise SelectorError("empty relative entry")
        first_comb, first_simples = e.steps[0]
        steps = [(None, [("pseudo", "scope")]),
                 (comb or "descendant", first_simples)] + e.steps[1:]
        entries.append(Entry(steps))
        p.ws()
        if p.peek() == ",":
            p.i += 1
            continue
        if p.i >= p.n:
            break
        raise SelectorError("trailing garbage at %d" % p.i)
    return entries


def _parse_entry(p: _P) -> Entry | None:
    steps: list[tuple[str | None, list]] = []
    p.ws()
    comb: str | None = None
    while True:
        simples = _parse_compound(p)
        if not simples:
            if not steps:
                return None
            raise SelectorError("dangling combinator")
        steps.append((comb, simples))
        had_ws = p.ws()
        c = p.peek()
        if c == ">" and p.s.startswith(">>", p.i):
            p.i += 2
            comb = "descendant"
        elif c == ">":
            p.i += 1
            comb = "child"
        elif c == "+":
            p.i += 1
            comb = "sibling"
        elif c == "~":
            p.i += 1
            comb = "adjacent"
        elif c == "|" and p.s.startswith("||", p.i):
            p.i += 2
            comb = "column"
        elif had_ws and c not in ("", ","):
            comb = "descendant"
        else:
            break
        p.ws()
    return Entry(steps)


def _parse_compound(p: _P) -> list:
    simples: list = []
    while True:
        c = p.peek()
        if c == "*":
            p.i += 1
            simples.append(("star",))
        elif c == "#":
            p.i += 1
            v = p.ident()
            if v is None:
                raise SelectorError("bad id")
            simples.append(("id", v))
        elif c == ".":
            p.i += 1
            v = p.ident()
            if v is None:
                raise SelectorError("bad class")
            simples.append(("class", v))
        elif c == "[":
            p.i += 1
            simples.append(_parse_attr(p))
        elif c == ":":
            p.i += 1
            simples.append(_parse_pseudo(p))
        else:
            v = p.ident()
            if v is None:
                break
            simples.append(("tag", v.lower()))
        if p.i >= p.n:
            break
    return simples


def _parse_attr(p: _P):
    p.ws()
    name = p.ident()
    if name is None:
        raise SelectorError("bad attr name")
    p.ws()
    c = p.peek()
    if c == "]":
        p.i += 1
        return ("attr", name.lower(), "exists", None, False)
    op = None
    for sym in ("~=", "|=", "^=", "$=", "*=", "="):
        if p.s.startswith(sym, p.i):
            op = _ATTR_MATCH[sym]
            p.i += len(sym)
            break
    if op is None:
        raise SelectorError("bad attr op")
    p.ws()
    val = p.string_or_ident()
    if val is None:
        raise SelectorError("bad attr value")
    p.ws()
    icase = False
    nxt = p.ident()
    if nxt is not None:
        if nxt.lower() == "i":
            icase = True
        elif nxt.lower() != "s":
            raise SelectorError("bad attr modifier")
        p.ws()
    p.expect("]")
    return ("attr", name.lower(), op, val, icase)


def _parse_pseudo(p: _P):
    double = False
    if p.peek() == ":":
        p.i += 1
        double = True
    name = p.ident()
    if name is None:
        raise SelectorError("bad pseudo")
    name = name.lower()
    if p.peek() == "(":
        p.i += 1
        inner = p.balanced_paren()
        if name in _NTH_FUNCS:
            a, b, of = _parse_nth(inner)
            return ("nth", name, a, b, of)
        if name == "has":
            # Selectors L4: :has() takes a RELATIVE selector list —
            # each entry may lead with a combinator and is anchored at
            # :scope (the element being tested).  Desugar here: a
            # leading combinator C becomes ':scope C rest'; no leading
            # combinator means descendant-of-scope, which the matcher's
            # document-wide candidate scan + left-chain enforces.
            sub = _parse_group_relative(inner.strip())
            return ("func", name, SelectorList(sub, True, inner))
        if name in _FUNC_SELECTOR_ARG:
            sub = _parse_group(inner.strip())
            return ("func", name, SelectorList(sub, True, inner))
        if name == "contains":
            v = inner.strip()
            if v[:1] in "\"'" and v[-1:] == v[:1]:
                v = v[1:-1]
            return ("func", "contains", v)
        if name == "lang":
            langs = [x.strip() for x in inner.split(",") if x.strip()]
            return ("func", "lang", langs)
        if name == "dir":
            return ("func", "dir", inner.strip().lower())
        if name == "drop":
            kinds = [x.strip().lower() for x in inner.split(",") if x.strip()]
            return ("func", "drop", kinds)
        raise SelectorError("unknown functional pseudo :%s" % name)
    if double or name in _LEGACY_PELEMENTS:
        if name in _LEGACY_PELEMENTS or double:
            return ("pelement", name)
    if name in _SIMPLE_PSEUDO:
        return ("pseudo", name)
    raise SelectorError("unknown pseudo-class :%s" % name)


def _parse_nth(text: str) -> tuple[int, int, SelectorList | None]:
    of = None
    low = text.lower()
    idx = low.find(" of ")
    if low.startswith("of ") or idx != -1:
        if idx != -1:
            sel_text = text[idx + 4:]
            text = text[:idx]
        else:
            sel_text = text[3:]
            text = ""
        of = SelectorList(_parse_group(sel_text.strip()), True, sel_text)
    m = _NTH_RE.match(text)
    if not m or m.end() != len(text):
        raise SelectorError("bad an+b: %r" % text)
    if m.group("odd"):
        return 2, 1, of
    if m.group("even"):
        return 2, 0, of
    if m.group("bonly"):
        return 0, int(m.group("bonly")), of
    a_digits = m.group("a")
    a = int(a_digits) if a_digits else 1
    if m.group("sa") == "-":
        a = -a
    b = int(m.group("b")) if m.group("b") else 0
    if m.group("sb") == "-":
        b = -b
    return a, b, of
