"""innerText rendering kernel.

Byte-identical re-expression of the reference's algorithm
(`html5_dom_recursive_node_inner_text`, /root/reference/utils.c:439-576),
which approximates https://html.spec.whatwg.org/#the-innertext-idl-attribute
using default user-agent display types per tag
(/root/reference/gen/tags_ua_style.c; default INLINE utils.c:225-230):

* text: drop ``\r``; collapse runs of ASCII whitespace to one space, and
  drop spaces right after a line break or at the start; NBSP is preserved;
* elements with display:none (script/style/head/template/...) are skipped,
  as are textarea/input/audio/video;
* ``<br>`` always emits ``\n``;
* block/table/caption emit a boundary ``\n`` before and after (collapsed
  via the ``last_br`` flag, with spaces rtrimmed first); ``</p>`` emits two;
* table cells emit ``\t`` after every cell but the last in its row;
  table rows emit ``\n`` after every row but the last;
* trailing spaces are rtrimmed at the end (/root/reference/DOM.xs:1779).

This is the extraction backbone of the Spark pipeline (north_rule:
"byte-identical extracted text per url").
"""

from __future__ import annotations

import re

from .constants import (
    DISPLAY_BLOCK,
    DISPLAY_NONE,
    DISPLAY_TABLE,
    DISPLAY_TABLE_CAPTION,
    DISPLAY_TABLE_CELL,
    DISPLAY_TABLE_ROW,
    ELEMENT_NODE,
    NS_HTML,
    TEXT_NODE,
    ua_display,
)
from .document import NULL, Document

# collapsible whitespace runs per the reference's isspace() minus NBSP
_WS_RUN_RE = re.compile(r"[ \t\n\x0b\x0c]+")
_SKIP_TAGS = frozenset(("textarea", "input", "audio", "video"))
_BOUNDARY = (DISPLAY_BLOCK, DISPLAY_TABLE, DISPLAY_TABLE_CAPTION)


class _State:
    __slots__ = ("out", "new_line", "last_br")

    def __init__(self) -> None:
        self.out: list[str] = []
        self.new_line = True
        self.last_br = True


def _rtrim_spaces(out: list[str]) -> None:
    while out:
        chunk = out[-1]
        stripped = chunk.rstrip(" ")
        if stripped:
            out[-1] = stripped
            return
        out.pop()


def _last_char(out: list[str]) -> str:
    return out[-1][-1] if out else ""


def inner_text(doc: Document, nid: int) -> str:
    """innerText of the node's children (reference DOM.xs:1765-1783:
    the getter iterates children of self, then rtrims spaces).

    Iterative (explicit stack): giant/adversarial web documents must not
    hit Python's recursion limit.
    """
    st = _State()
    # stack entries: (node, exiting)
    stack = [(c, False) for c in reversed(doc.children(nid))]
    while stack:
        node, exiting = stack.pop()
        if exiting:
            _element_post(doc, node, st)
            continue
        nt = doc.node_type[node]
        if nt == TEXT_NODE:
            _text_node(doc, node, st)
            continue
        if nt != ELEMENT_NODE:
            continue
        tag = doc.tag[node]
        ns = doc.ns[node]
        display = ua_display(tag, ns)
        if display == DISPLAY_NONE:
            continue
        if ns == NS_HTML and tag in _SKIP_TAGS:
            continue
        if ns == NS_HTML and tag == "br":
            st.out.append("\n")
            st.new_line = True
            st.last_br = True
            continue
        if display in _BOUNDARY and not st.last_br:
            _rtrim_spaces(st.out)
            st.out.append("\n")
            st.new_line = True
            st.last_br = True
        stack.append((node, True))
        for c in reversed(doc.children(node)):
            stack.append((c, False))
    _rtrim_spaces(st.out)
    return "".join(st.out)


def _text_node(doc: Document, node: int, st: _State) -> None:
    # regex whitespace-run collapse — C-speed equivalent of the
    # character loop in the reference (utils.c:451-463); \r dropped,
    # NBSP NOT collapsible (excluded from the class)
    text = doc.text[node] or ""
    if not text:
        return
    if "\r" in text:
        text = text.replace("\r", "")
    collapsed = _WS_RUN_RE.sub(" ", text)
    if not collapsed:
        return
    if collapsed == " ":
        # all-collapsible run: emit at most one space
        if not st.new_line and _last_char(st.out) != " ":
            st.out.append(" ")
        return
    if collapsed[0] == " " and (st.new_line or _last_char(st.out) == " "):
        collapsed = collapsed[1:]
    st.out.append(collapsed)
    st.new_line = False
    st.last_br = False


def _element_post(doc: Document, node: int, st: _State) -> None:
    """Post-children boundary handling (second switch in utils.c:509-572)."""
    tag = doc.tag[node]
    ns = doc.ns[node]
    display = ua_display(tag, ns)
    if display in _BOUNDARY:
        if not st.last_br:
            _rtrim_spaces(st.out)
            if ns == NS_HTML and tag == "p":
                st.out.append("\n\n")
            else:
                st.out.append("\n")
            st.new_line = True
            st.last_br = True
    elif display == DISPLAY_TABLE_CELL:
        parent = doc.parent[node]
        is_last_cell = False
        if parent != NULL:
            cell = doc.last_child[parent]
            while cell != NULL:
                if doc.node_type[cell] == ELEMENT_NODE and \
                        ua_display(doc.tag[cell], doc.ns[cell]) == DISPLAY_TABLE_CELL:
                    is_last_cell = cell == node
                    break
                cell = doc.prev_sib[cell]
        if not is_last_cell:
            _rtrim_spaces(st.out)
            st.out.append("\t")
        st.new_line = True
    elif display == DISPLAY_TABLE_ROW:
        parent = doc.parent[node]
        is_last_row = False
        if parent != NULL:
            row = doc.last_child[parent]
            while row != NULL:
                if doc.node_type[row] == ELEMENT_NODE and \
                        ua_display(doc.tag[row], doc.ns[row]) == DISPLAY_TABLE_ROW:
                    is_last_row = row == node
                    break
                row = doc.prev_sib[row]
        if not is_last_row:
            _rtrim_spaces(st.out)
            st.out.append("\n")
            st.last_br = True
        st.new_line = True
