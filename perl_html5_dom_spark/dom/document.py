"""Arena-allocated document: flat parallel arrays of nodes.

The reference stores nodes in a myhtml arena with parent/child/sibling
pointers (created via ``myhtml_tree_create``, /root/reference/DOM.xs:945);
this is the Python analog: one Python list per field, node handle = index.
No per-node objects are created during parse — the DOM facade in
``node.py`` wraps (doc, index) lazily, matching the reference's lazy SV
materialization (/root/reference/DOM.xs:159-180).

``finalize()`` computes pre-order indexes and subtree intervals used by the
selector matcher and the Spark-side relational node table.
"""

from __future__ import annotations

from .constants import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    FRAGMENT_NODE,
    NS_HTML,
    TEXT_NODE,
)

NULL = -1


class Document:
    """One parsed HTML document as struct-of-arrays."""

    __slots__ = (
        "parent", "first_child", "last_child", "next_sib", "prev_sib",
        "tag", "ns", "node_type", "text", "attrs", "self_closed",
        "raw_begin", "raw_length", "elem_begin", "elem_length",
        "root", "html_node", "head_node", "body_node",
        "doctype_node", "quirks", "encoding", "fragment_context",
        "scripting", "fostered", "misnested",
        "_order", "_order_pos", "_subtree_end", "_dirty",
    )

    def __init__(self) -> None:
        self.parent: list[int] = []
        self.first_child: list[int] = []
        self.last_child: list[int] = []
        self.next_sib: list[int] = []
        self.prev_sib: list[int] = []
        self.tag: list[str] = []          # lowercase name; '-text'... see new_*
        self.ns: list[int] = []
        self.node_type: list[int] = []
        self.text: list[str | None] = []  # payload for text/comment nodes
        self.attrs: list[dict | None] = []  # ordered dict name -> value
        self.self_closed: list[bool] = []
        # source positions (reference DOM.xs:2161-2172)
        self.raw_begin: list[int] = []
        self.raw_length: list[int] = []
        self.elem_begin: list[int] = []
        self.elem_length: list[int] = []

        self.root = self._new_node("-document", DOCUMENT_NODE, NS_HTML)
        self.html_node = NULL
        self.head_node = NULL
        self.body_node = NULL
        self.doctype_node = NULL
        self.quirks = False
        self.scripting: bool = True  # parse-time scripts flag (serializer: noscript literal text)
        self.fostered: bool = False  # any node foster-parented during parse (serialize round-trip is spec-lossy then)
        self.misnested: bool = False  # AFE reconstruction / adoption-agency moved nodes (round-trip spec-lossy)
        self.encoding = "utf-8"
        self.fragment_context: str | None = None

        self._order: list[int] | None = None       # preorder node ids
        self._order_pos: list[int] | None = None   # node id -> preorder pos
        self._subtree_end: list[int] | None = None # node id -> last preorder pos in subtree
        self._dirty = True

    # ------------------------------------------------------------------
    # node creation
    # ------------------------------------------------------------------
    def _new_node(self, tag: str, node_type: int, ns: int = NS_HTML) -> int:
        nid = len(self.tag)
        self.parent.append(NULL)
        self.first_child.append(NULL)
        self.last_child.append(NULL)
        self.next_sib.append(NULL)
        self.prev_sib.append(NULL)
        self.tag.append(tag)
        self.ns.append(ns)
        self.node_type.append(node_type)
        self.text.append(None)
        self.attrs.append(None)
        self.self_closed.append(False)
        self.raw_begin.append(0)
        self.raw_length.append(0)
        self.elem_begin.append(0)
        self.elem_length.append(0)
        self._dirty = True
        return nid

    def new_element(self, tag: str, ns: int = NS_HTML,
                    attrs: dict | None = None) -> int:
        nid = self._new_node(tag, ELEMENT_NODE, ns)
        if attrs:
            self.attrs[nid] = attrs
        return nid

    def new_text(self, data: str) -> int:
        nid = self._new_node("-text", TEXT_NODE)
        self.text[nid] = data
        return nid

    def new_comment(self, data: str) -> int:
        nid = self._new_node("-comment", COMMENT_NODE)
        self.text[nid] = data
        return nid

    def new_doctype(self, name: str, public_id: str | None,
                    system_id: str | None) -> int:
        nid = self._new_node("!doctype", DOCTYPE_NODE)
        self.text[nid] = name
        self.attrs[nid] = {}
        if public_id is not None:
            self.attrs[nid]["public"] = public_id
        if system_id is not None:
            self.attrs[nid]["system"] = system_id
        return nid

    def new_fragment(self) -> int:
        return self._new_node("-fragment", FRAGMENT_NODE)

    # ------------------------------------------------------------------
    # structure mutation (myhtml_tree_node_{add_child,insert_before,...})
    # ------------------------------------------------------------------
    def append_child(self, parent: int, child: int) -> None:
        if self.parent[child] != NULL:
            self.remove(child)
        last = self.last_child[parent]
        self.parent[child] = parent
        self.prev_sib[child] = last
        self.next_sib[child] = NULL
        if last != NULL:
            self.next_sib[last] = child
        else:
            self.first_child[parent] = child
        self.last_child[parent] = child
        self._dirty = True

    def insert_before(self, ref: int, node: int) -> None:
        if self.parent[node] != NULL:
            self.remove(node)
        parent = self.parent[ref]
        prev = self.prev_sib[ref]
        self.parent[node] = parent
        self.prev_sib[node] = prev
        self.next_sib[node] = ref
        self.prev_sib[ref] = node
        if prev != NULL:
            self.next_sib[prev] = node
        elif parent != NULL:
            self.first_child[parent] = node
        self._dirty = True

    def insert_after(self, ref: int, node: int) -> None:
        nxt = self.next_sib[ref]
        if nxt != NULL:
            self.insert_before(nxt, node)
        else:
            self.append_child(self.parent[ref], node)

    def remove(self, node: int) -> None:
        parent = self.parent[node]
        prev = self.prev_sib[node]
        nxt = self.next_sib[node]
        if prev != NULL:
            self.next_sib[prev] = nxt
        elif parent != NULL:
            self.first_child[parent] = nxt
        if nxt != NULL:
            self.prev_sib[nxt] = prev
        elif parent != NULL:
            self.last_child[parent] = prev
        self.parent[node] = NULL
        self.prev_sib[node] = NULL
        self.next_sib[node] = NULL
        self._dirty = True

    # ------------------------------------------------------------------
    # traversal helpers
    # ------------------------------------------------------------------
    def children(self, node: int) -> list[int]:
        out = []
        c = self.first_child[node]
        while c != NULL:
            out.append(c)
            c = self.next_sib[c]
        return out

    def element_children(self, node: int) -> list[int]:
        return [c for c in self.children(node) if self.node_type[c] == ELEMENT_NODE]

    def iter_subtree(self, node: int, include_self: bool = True):
        """Pre-order iteration over the subtree (iterative, no recursion)."""
        if include_self:
            yield node
        stack = []
        c = self.first_child[node]
        while True:
            while c != NULL:
                yield c
                fc = self.first_child[c]
                if fc != NULL:
                    stack.append(self.next_sib[c])
                    c = fc
                else:
                    c = self.next_sib[c]
            if not stack:
                return
            c = stack.pop()

    # ------------------------------------------------------------------
    # finalize: preorder order + subtree intervals (document order index)
    # ------------------------------------------------------------------
    def ensure_order(self) -> None:
        if not self._dirty and self._order is not None:
            return
        n = len(self.tag)
        order: list[int] = []
        pos = [NULL] * n
        end = [0] * n
        # iterative DFS from root, tracking exit to fill subtree_end
        stack = [(self.root, False)]
        while stack:
            node, exiting = stack.pop()
            if exiting:
                end[node] = len(order) - 1
                continue
            pos[node] = len(order)
            order.append(node)
            stack.append((node, True))
            # push children reversed so first child pops first
            kids = []
            c = self.first_child[node]
            while c != NULL:
                kids.append(c)
                c = self.next_sib[c]
            for k in reversed(kids):
                stack.append((k, False))
        self._order = order
        self._order_pos = pos
        self._subtree_end = end
        self._dirty = False

    @property
    def order(self) -> list[int]:
        self.ensure_order()
        return self._order  # type: ignore[return-value]

    @property
    def order_pos(self) -> list[int]:
        self.ensure_order()
        return self._order_pos  # type: ignore[return-value]

    @property
    def subtree_end(self) -> list[int]:
        self.ensure_order()
        return self._subtree_end  # type: ignore[return-value]

    def __len__(self) -> int:
        return len(self.tag)
