"""HTML extraction pandas UDFs — the one function family Spark can't express
(SURVEY §2.10).

Reference extractions:
  - all <title> texts               (metatags.py:73-87)
  - all meta[name=description]      (metatags.py:381-395)
  - link[rel=canonical] href        (metatags.py:689-699)
  - <h1> texts / count              (htmlheadings.py:64-71)
  - strip script/style/svg/noscript then visible text (utilities/html.py:24-35)
  - robots.txt sitemap list         (robotstxt.py op:112-118)

The reference uses BeautifulSoup/lxml; this container has neither, so the
parser is Python's stdlib html.parser — tolerant of the fixture corpus and
dependency-free. If lxml lands later, only this module changes.

All UDFs are Arrow-batched pandas UDFs: one serialization per ~10k-row
batch, not per row. ``html_facts`` returns a struct (Series ->
DataFrame) so one parse serves every field a check reads; the others
map a body Series to one value per body. At 100 TB these run map-side,
scaling with executors; the DAG above/below them stays JVM-side.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STRIP_TAGS = {"script", "style", "svg", "noscript"}


class _Extractor(HTMLParser):
    """Single-pass collector for titles, meta descriptions, canonicals, h1s."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.titles: list[str] = []
        self.descriptions: list[str] = []
        self.canonicals: list[str] = []
        self.h1s: list[str] = []
        self._stack: list[str] = []
        self._skip_depth = 0
        self.text_parts: list[str] = []

    def handle_starttag(self, tag, attrs):
        attrs_d = {k.lower(): (v or "") for k, v in attrs}
        if tag == "meta" and attrs_d.get("name", "").lower() == "description":
            self.descriptions.append(attrs_d.get("content", ""))
        if tag == "link" and attrs_d.get("rel", "").lower() == "canonical":
            self.canonicals.append(attrs_d.get("href", ""))
        if tag in _STRIP_TAGS:
            self._skip_depth += 1
        self._stack.append(tag)

    def handle_endtag(self, tag):
        if tag in _STRIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        while self._stack:
            if self._stack.pop() == tag:
                break

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._stack:
            if self._stack[-1] == "title":
                self.titles.append(data.strip())
                return
            if self._stack[-1] == "h1":
                self.h1s.append(data.strip())
                return
        if data.strip():
            self.text_parts.append(data.strip())


def _parse(body: str) -> _Extractor:
    ex = _Extractor()
    try:
        ex.feed(body or "")
    except Exception:
        pass  # tolerate malformed HTML like the reference's soup does
    return ex


HTML_FACTS = T.StructType(
    [
        T.StructField(name, T.ArrayType(T.StringType()))
        for name in ("titles", "descriptions", "canonicals", "h1s")
    ]
)


@F.pandas_udf(HTML_FACTS)
def html_facts(bodies: pd.Series) -> pd.DataFrame:
    """Titles, meta descriptions, canonical hrefs and h1 texts of each
    body from one parse. Read the fields off the struct column
    downstream (``F.col("__f.titles")``), so every consumer shares the
    one evaluation."""
    parsed = [_parse(b) for b in bodies]
    return pd.DataFrame(
        {name: [getattr(p, name) for p in parsed] for name in HTML_FACTS.names}
    )


@F.pandas_udf(T.StringType())
def strip_html(bodies: pd.Series) -> pd.Series:
    """Visible text with script/style/svg/noscript removed
    (utilities/html.py:24-35)."""
    return bodies.map(lambda b: " ".join(_parse(b).text_parts))


_SITEMAP_RE = re.compile(r"^\s*sitemap\s*:\s*(\S+)\s*$", re.IGNORECASE | re.MULTILINE)


@F.pandas_udf(T.ArrayType(T.StringType()))
def robots_sitemaps(bodies: pd.Series) -> pd.Series:
    """Sitemap URLs from robots.txt bodies (robotstxt.py op:112-118 uses
    urllib.robotparser.site_maps(); the line grammar is identical)."""
    return bodies.map(lambda b: _SITEMAP_RE.findall(b or ""))


# --- HTML-tolerant XPath subset (xpath.py:282-302) --------------------------

_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}


class _TreeBuilder(HTMLParser):
    """HTML -> xml.etree tree, tolerant of real-world markup: void elements
    never open a scope, stray end tags are ignored, unclosed tags are
    closed implicitly when an ancestor closes. Replaces lxml's
    document_from_html for the XPath subset below (lxml is not in this
    container; reference xpath.py:282-302)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        import xml.etree.ElementTree as ET

        self._ET = ET
        self.root = ET.Element("__doc__")
        self._stack = [self.root]

    # HTML implied end tags (minimal subset): these elements close their
    # open same-tag sibling when a new one starts (<p>a<p>b == two <p>s)
    _SELF_CLOSING_SIBLINGS = {"p", "li", "option", "tr", "td", "th", "dt", "dd"}

    def handle_starttag(self, tag, attrs):
        if (
            tag in self._SELF_CLOSING_SIBLINGS
            and len(self._stack) > 1
            and self._stack[-1].tag == tag
        ):
            self._stack.pop()
        el = self._ET.SubElement(
            self._stack[-1], tag, {k.lower(): (v or "") for k, v in attrs}
        )
        if tag not in _VOID_TAGS:
            self._stack.append(el)

    def handle_endtag(self, tag):
        if any(e.tag == tag for e in self._stack[1:]):
            while len(self._stack) > 1:
                if self._stack.pop().tag == tag:
                    break

    def handle_data(self, data):
        cur = self._stack[-1]
        children = list(cur)
        if children:
            children[-1].tail = (children[-1].tail or "") + data
        else:
            cur.text = (cur.text or "") + data


# Named axes supported in addition to the '/'-implied child and
# '//'-implied descendant (reference xpath.py:282-302 accepts all lxml axes;
# these are the ones that appear in real selector configs).
_NAMED_AXES = {
    "child",
    "descendant",
    "descendant-or-self",
    "self",
    "parent",
    "ancestor",
    "ancestor-or-self",
    "following-sibling",
    "preceding-sibling",
    "following",
    "preceding",
}


def _tokenize_steps(query: str) -> list[tuple[str, str, list[str]]]:
    """Split an XPath into (axis, name-test, [predicates]) steps.

    axis is 'child' ('/'), 'descendant' ('//'), or any name from
    ``_NAMED_AXES`` given explicitly as ``axis::test``. ``.`` and ``..``
    abbreviate ``self::*`` and ``parent::*``. Predicates are the raw
    strings between balanced brackets (quote-aware, so
    ``[contains(@t,'a]b')]`` tokenizes correctly). A relative path behaves
    like the old ET-``findall`` normalization: first step is a child of
    the wrapper.
    """
    steps: list[tuple[str, str, list[str]]] = []
    i, n = 0, len(query)
    while i < n:
        if query.startswith("//", i):
            axis, i = "descendant", i + 2
        elif query[i] == "/":
            axis, i = "child", i + 1
        else:
            axis = "child"  # relative: child of the __doc__ wrapper
        j = i
        while j < n and query[j] not in "/[":
            j += 1
        name = query[i:j]
        i = j
        if "::" in name:
            axis_name, _, name = name.partition("::")
            if axis_name not in _NAMED_AXES:
                return [("child", "\0unsupported", [])]  # match nothing
            if axis == "descendant":
                # '//' abbreviates descendant-or-self::node()/ — compose
                # with the explicit axis instead of overwriting it
                steps.append(("descendant-or-self", "*", []))
            axis = axis_name
        elif name == ".":
            axis, name = "self", "*"
        elif name == "..":
            axis, name = "parent", "*"
        preds: list[str] = []
        while i < n and query[i] == "[":
            depth, quote, j = 0, None, i
            while j < n:
                ch = query[j]
                if quote:
                    if ch == quote:
                        quote = None
                elif ch in "'\"":
                    quote = ch
                elif ch == "[":
                    depth += 1
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            preds.append(query[i + 1 : j])
            i = j + 1
        steps.append((axis, name, preds))
    return steps


# predicate grammar: function calls over @attr / text() / . plus the
# ET-compatible forms ([@a], [@a='v'], [tag], [tag='v'], [n], [last()])
_PRED_FN = re.compile(
    r"^(not\()?\s*(contains|starts-with|ends-with)\(\s*"
    r"(@[\w:.-]+|text\(\)|\.)\s*,\s*(['\"])(.*)\4\s*\)\s*(\))?\s*$",
    re.DOTALL,
)
_PRED_CMP = re.compile(
    r"^(@[\w:.-]+|text\(\)|\.|[\w:.-]+)\s*(!?=)\s*(['\"])(.*)\3\s*$", re.DOTALL
)


def _operand_value(el, operand: str) -> str | None:
    """String value of a predicate operand: @attr -> attribute (None if
    absent), text() -> the element's own first text node, '.' -> the full
    descendant string value (lxml/XPath string() semantics)."""
    if operand.startswith("@"):
        return el.get(operand[1:])
    if operand == "text()":
        return el.text or ""
    return "".join(el.itertext())


_PRED_POS = re.compile(
    r"^position\(\)\s*(<=|>=|!=|<|>|=)\s*(\d+|last\(\)(?:\s*-\s*\d+)?)$"
)
_LAST_MINUS = re.compile(r"^last\(\)\s*-\s*(\d+)$")


def _pred_match(el, pred: str, pos: int, size: int) -> bool:
    pred = pred.strip()
    if pred.isdigit():  # [n] — 1-based position within the parent group
        return pos == int(pred)
    if pred == "last()":
        return pos == size
    m = _LAST_MINUS.match(pred)
    if m:  # [last()-n]
        return pos == size - int(m.group(1))
    m = _PRED_POS.match(pred)
    if m:
        op, rhs_s = m.group(1), m.group(2)
        if rhs_s.isdigit():
            rhs = int(rhs_s)
        elif rhs_s == "last()":
            rhs = size
        else:
            rhs = size - int(_LAST_MINUS.match(rhs_s).group(1))
        return {
            "=": pos == rhs,
            "!=": pos != rhs,
            "<": pos < rhs,
            "<=": pos <= rhs,
            ">": pos > rhs,
            ">=": pos >= rhs,
        }[op]
    m = _PRED_FN.match(pred)
    if m:
        negate, fn, operand, _, needle, closing = m.groups()
        if bool(negate) != bool(closing):  # 'not(' without ')' or vice versa
            return False
        value = _operand_value(el, operand)
        if value is None:
            result = False
        elif fn == "contains":
            result = needle in value
        elif fn == "starts-with":
            result = value.startswith(needle)
        else:
            result = value.endswith(needle)
        return not result if negate else result
    m = _PRED_CMP.match(pred)
    if m:
        operand, op, _, rhs = m.groups()
        if operand.startswith("@") or operand in ("text()", "."):
            value = _operand_value(el, operand)
            eq = value is not None and value == rhs
        else:  # [tag='v']: any child element of that tag with matching text
            eq = any(
                (c.text or "") == rhs for c in el if c.tag == operand
            )
        return eq if op == "=" else not eq
    if pred.startswith("@"):  # [@attr] existence
        return el.get(pred[1:]) is not None
    if re.fullmatch(r"[\w:.-]+", pred):  # [tag] child existence
        return any(c.tag == pred for c in el)
    return False  # unsupported predicate: match nothing, never crash


def _axis_candidates(node, axis: str, parents: dict) -> list:
    """Raw candidate nodes for one axis from one context node, in axis
    order (reverse document order for the reverse axes, per XPath)."""
    if axis == "child":
        return list(node)
    if axis == "descendant":
        return [d for d in node.iter() if d is not node]
    if axis == "descendant-or-self":
        return list(node.iter())
    if axis == "self":
        return [node]
    if axis == "parent":
        p = parents.get(id(node))
        return [p] if p is not None else []
    if axis in ("ancestor", "ancestor-or-self"):
        out = [node] if axis == "ancestor-or-self" else []
        p = parents.get(id(node))
        while p is not None:
            out.append(p)
            p = parents.get(id(p))
        return out
    if axis in ("following", "preceding"):
        # full document axes: climb ancestors, taking each level's
        # following (resp. preceding) siblings WITH their subtrees —
        # document order for 'following', reverse for 'preceding';
        # descendants/ancestors of the context node never appear, per
        # the XPath axis definitions
        out: list = []
        cur = node
        while (p := parents.get(id(cur))) is not None:
            sibs = list(p)
            idx = next(i for i, s in enumerate(sibs) if s is cur)
            if axis == "following":
                for s in sibs[idx + 1 :]:
                    out.extend(s.iter())
            else:
                for s in sibs[:idx][::-1]:
                    out.extend(reversed(list(s.iter())))
            cur = p
        return out
    # sibling axes: position within the parent's child list
    p = parents.get(id(node))
    if p is None:
        return []
    siblings = list(p)
    idx = next(i for i, s in enumerate(siblings) if s is node)
    if axis == "following-sibling":
        return siblings[idx + 1 :]
    return siblings[:idx][::-1]  # preceding-sibling, reverse order


def _eval_steps(root, steps) -> list:
    """Walk the step list. Candidates are grouped per context node so
    positional predicates ([n], [last()]) count within their parent group,
    as XPath specifies — not over the global match list."""
    parents: dict[int, object] = {}
    for p in root.iter():
        for c in p:
            parents[id(c)] = p
    # the synthetic __doc__ wrapper is not a real document node: axes that
    # walk upward never surface it (the `c is root` filter below)
    nodes = [root]
    for axis, name, preds in steps:
        groups: list[list] = []
        for node in nodes:
            group = [
                c
                for c in _axis_candidates(node, axis, parents)
                if name in ("*", getattr(c, "tag", None))
                and not (
                    axis in ("parent", "ancestor", "ancestor-or-self")
                    and c is root
                )
            ]
            if group:
                groups.append(group)
        for pred in preds:
            groups = [
                kept
                for g in groups
                if (
                    kept := [
                        el
                        for i, el in enumerate(g, 1)
                        if _pred_match(el, pred, i, len(g))
                    ]
                )
            ]
        seen: set[int] = set()
        nodes = []
        for g in groups:
            for el in g:
                if id(el) not in seen:
                    seen.add(id(el))
                    nodes.append(el)
    return nodes


_ATTR_TAIL = re.compile(r"/@([\w:.-]+)$")


def _split_union(query: str) -> list[str]:
    """Split on top-level ``|`` (quote- and bracket-aware)."""
    parts: list[str] = []
    depth, quote, start = 0, None, 0
    for i, ch in enumerate(query):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        elif ch == "|" and depth == 0:
            parts.append(query[start:i])
            start = i + 1
    parts.append(query[start:])
    return [p.strip() for p in parts if p.strip()]


def html_xpath(body: str, query: str) -> list:
    """Evaluate an XPath over tolerant-parsed HTML. Supported grammar
    (reference xpath.py:282-302 accepts arbitrary lxml XPath; this covers
    the selectors its configs actually use): '/' and '//' abbreviated axes,
    named axes (``child::``, ``descendant::``, ``descendant-or-self::``,
    ``self::``, ``parent::``, ``ancestor::``, ``ancestor-or-self::``,
    ``following-sibling::``, ``preceding-sibling::``, ``following::``,
    ``preceding::``), '.' and '..' steps,
    '*' name test, top-level union ``a | b``, predicates in ANY step —
    '[@attr]', "[@attr='v']", "[@attr!='v']", "[contains(@attr,'v')]",
    "[starts-with(@attr,'v')]", "[ends-with(@attr,'v')]", 'not(...)'
    around any of those, "[contains(text(),'v')]", "[text()='v']",
    "[contains(.,'v')]" (full string value), '[tag]', "[tag='v']", '[n]',
    '[last()]', '[last()-n]', '[position() OP n]', '[position() OP
    last()-n]' — plus trailing '/@attr' and '/text()'. Positional
    predicates count within the parent group per the XPath spec.

    Element results serialize as the reference does (xpath.py:286-300):
    concatenated child-element markup, else the element's own text.
    Union results follow lxml node-set semantics: merged across branches,
    DEDUPLICATED (``a | a`` yields each node once), and emitted in global
    document order. Remaining documented deviation (pinned by fixture
    test): child serialization is compact (ET.tostring) where lxml uses
    pretty_print, so inter-tag whitespace/trailing newlines differ.
    """
    builder = _TreeBuilder()
    builder.feed(body or "")
    branches = _split_union(query)
    if len(branches) == 1:
        return [value for _, value in _eval_branch(builder.root, branches[0])]
    # lxml unions are node-SET unions: dedup identical nodes across
    # branches and sort the merged set by document position
    doc_order = {id(el): i for i, el in enumerate(builder.root.iter())}
    seen: set = set()
    merged: list = []
    for branch in branches:
        for key, value in _eval_branch(builder.root, branch):
            if key in seen:
                continue
            seen.add(key)
            merged.append((key, value))
    merged.sort(key=lambda kv: doc_order.get(kv[0][1], 1 << 60))
    return [value for _, value in merged]


_ATTR_AXIS_TAIL = re.compile(r"/attribute::([\w:.-]+)$")


def _eval_branch(root, query: str) -> list:
    import xml.etree.ElementTree as ET

    # attribute:: is only meaningful as the final step (attribute nodes
    # have no children); normalize it to the abbreviated '@' form
    query = _ATTR_AXIS_TAIL.sub(r"/@\1", query)
    # likewise text() spelled via the self axis
    if query.endswith("/self::text()"):
        query = query[: -len("/self::text()")] + "/text()"
    attr = None
    want_text = False
    m = _ATTR_TAIL.search(query)
    if m:
        attr = m.group(1)
        query = query[: m.start()]
    elif query.endswith("/text()"):
        want_text = True
        query = query[: -len("/text()")]
    out: list = []
    # results are keyed (node_kind, element_id, qualifier) so the union
    # merge can dedup node-identically and sort by document position
    for el in _eval_steps(root, _tokenize_steps(query)):
        if attr is not None:
            value = el.get(attr)
            if value is not None:
                out.append((("attr", id(el), attr), value))
            continue
        if want_text:
            if el.text is not None and not el.text.isspace():
                out.append((("text", id(el), None), el.text))
            continue
        children = list(el)
        content = "".join(
            ET.tostring(child, encoding="unicode") for child in children
        )
        if content == "" and isinstance(el.text, str) and not el.text.isspace():
            content = el.text
        out.append((("element", id(el), None), content))
    return out


def extract_xpath(query: str):
    """array<string> pandas UDF evaluating ``query`` per body — map-side,
    Arrow-batched like every other extractor in this module."""

    def fn(bodies: pd.Series) -> pd.Series:
        return bodies.map(lambda b: html_xpath(b, query))

    return F.pandas_udf(fn, T.ArrayType(T.StringType()))
