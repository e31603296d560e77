"""CSS / XPath selector subset over the package's one HTML tokenizer.

The reference extracts with lxml selectors (``response.xpath(...)`` —
3,035 spiders; ``response.css(...)`` — 896, e.g. ``der_immo_tip.py:
32-47``). lxml is not in this container, so this module implements the
selector SUBSET those spiders actually use over a minimal DOM that
:func:`parse_tree` builds from ``htmlparse.tokens`` (so a duplicated
attribute keeps its first value and a truncated page keeps its
trailing text, as with every other extractor):

* CSS: descendant combination by whitespace, the ``>`` child (spaced
  or unspaced — 52 spiders write ``ul>li``), ``+`` adjacent-sibling
  (46 spiders, the ``i.fa-phone + a`` icon-label idiom) and ``~``
  general-sibling (5) combinators, comma union ``a, b`` (58 spiders —
  branch results concatenated in source order, like the xpath ``|``
  here), simple selectors ``tag``, ``*``, ``.class``, ``#id``,
  ``[attr]``, ``[attr=value]`` plus the ``*=`` / ``~=`` / ``^=`` /
  ``$=`` operators, ``:nth-child(n)`` (259 spiders),
  ``:nth-of-type(n)`` (8) / ``:first-of-type`` / ``:last-of-type``,
  ``:first-child`` (5) / ``:last-child`` (7), ``:not(<simple>)``,
  Scrapy's non-standard ``:contains("s")``, plus the ``::text`` /
  ``::attr(name)`` extraction suffixes (a space before ``::text`` —
  ``strong ::text`` — extracts DESCENDANT text, parsel's
  ``descendant-or-self::text()`` translation).
* XPath: ``//tag`` / ``/tag`` steps with boolean predicate expressions
  combining ``[@attr]``, ``[@attr="v"]``, ``[contains(@attr,"s")]``
  (1,787 spiders), ``[contains(text(),"s")]`` (454),
  ``[contains(.,"s")]``, string-value equality ``[.="v"]`` (833) /
  ``[text()="v"]`` (67), ``[normalize-space()="v"]``, existence of a
  relative path ``[span[...]]`` / ``[./span[...]]`` / ``[.//a]``
  (~300), and ``self::tag`` — composable with ``and`` (251), ``or``
  (760) and ``not(...)`` (500 spiders, e.g. ``[not(contains(.,'NC'))]``);
  positional ``[n]`` and ``[last()]`` applied in predicate order; axes
  ``following-sibling::`` (1,531 spiders), ``preceding-sibling::``
  (61), ``parent::`` (424) and the ``..`` abbreviation (290),
  including the text-node targets ``following-sibling::text()`` and
  ``text()[1]`` / ``text()[not(contains(.,'0'))]``; the document-order
  closure axes ``following::`` (24 spiders — the
  ``label/following::div[1]`` key-value table idiom) and
  ``preceding::``; ``self::tag[pred]`` inside predicates incl. the
  ``[not(self::span[@class='bold'])]`` and ``*[self::h1 | self::h2]``
  shapes (23 spiders — ``|`` at predicate top level is the node-set
  union, truthy iff either side matches); top-level
  ``concat(path, ' ', path)`` (8 spiders); terminal
  ``/text()``, ``//text()`` and ``/@attr`` (with optional value
  predicate, ``@href[contains(.,'mailto')]`` — 95 spiders); top-level
  union ``a | b`` (228 spiders) and the outer functions
  ``normalize-space(<path>)`` (233), ``count(<path>)`` (69) and the
  chainable ``substring-after(<path>, "s")`` /
  ``substring-before(<path>, "s")`` pair (352 spiders — usually nested
  to slice coordinates out of inline-script literals).

Each mechanism has one implementation. ``_scan`` is the only
quote- and bracket-aware walk over a selector string (splitting unions,
CSS combinators, predicate bodies and outer-function arguments are
loops over it). ``_walk`` is the only DOM walk: an explicit-stack
generator over text strings and elements in document order, so
adversarially deep-nested HTML never raises RecursionError inside a
Spark task. ``_axis_content`` is the only axis: element steps keep its
elements and ``text()`` steps its text nodes. CSS and XPath both
compile to ``_Branch`` (steps + extraction mode), evaluated once per
page inside a pandas UDF — Arrow batch in, ``array<string>`` out.

Extraction semantics mirror parsel/Scrapy observably:

* ``::text`` / ``/text()`` yields one result per DIRECT text node of
  each match; ``//text()`` yields one per DESCENDANT text node —
  whitespace-only nodes are skipped and runs of whitespace collapsed
  (the spiders pipe results through ``remove_white_spaces``; collapsing
  here is our documented normalization).
* default extraction (no ::text / text()) yields the node's normalized
  descendant text, matching how spiders consume ``.get()``.
* documented divergences: string-value comparisons (``[.="v"]``,
  ``[text()="v"]``, ``contains(text(),..)``) compare NORMALIZED text
  (real XPath compares raw — spiders write ``[.='BEDROOMS']`` against
  whitespace-padded markup and rely on tight HTML; normalizing matches
  their intent); union results are per-branch document order,
  concatenated in branch order (branches in the reference are layout
  fallbacks — at most one usually matches a given page).
* node-set rules kept as in lxml: ``normalize-space(text())`` reads
  the FIRST direct text node only (XPath 1.0 converts a node-set to the
  string-value of its first node; ``normalize-space()`` reads the whole
  string-value), positions start at 1 so ``[0]`` selects nothing, and
  ``parent::text()`` is empty (an element's parent is never text).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .htmlparse import START, TEXT, tokens

#: HTML void elements — start tags that never receive an end tag
VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}


@dataclass(eq=False)  # identity equality: .index()/dedup must not match twins
class _Node:
    tag: str
    attrs: dict
    parent: "_Node | None" = None
    #: document-ordered mix of text strings and child _Nodes
    content: list = field(default_factory=list)

    def all_text(self) -> str:
        """Normalized concatenation of every descendant text node."""
        return " ".join(_texts(_walk(self.content)))

    def direct_text(self) -> str:
        return " ".join(_texts(self.content))


def _walk(content: list):
    """Every text string and ``_Node`` below ``content``, in document
    order (iterative pre-order walk — no recursion)."""
    stack = [iter(content)]
    while stack:
        for c in stack[-1]:
            yield c
            if isinstance(c, _Node):
                stack.append(iter(c.content))
                break
        else:
            stack.pop()


def _texts(items) -> list[str]:
    """The normalized, non-blank text nodes among ``items``."""
    return [t for t in (_norm(c) for c in items if isinstance(c, str)) if t]


def parse_tree(html: str) -> _Node:
    root = _Node("#root", {})
    stack = [root]
    for kind, tag, val in tokens(html):
        if kind == TEXT:
            if val.strip():
                stack[-1].content.append(val)
        elif kind == START:
            node = _Node(tag, val, parent=stack[-1])
            stack[-1].content.append(node)
            if tag not in VOID_TAGS:
                stack.append(node)
        else:
            # close the nearest open tag of this name (tolerates misnesting)
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
    return root


# ---------------------------------------------------------------------------
# predicate expressions (evaluated against an element node OR a text/attr
# string — ``_strval`` is the XPath string-value of either)
# ---------------------------------------------------------------------------


def _strval(subject) -> str:
    return subject if isinstance(subject, str) else subject.all_text()


def _norm(s: str) -> str:
    return " ".join(s.split())


@dataclass(frozen=True)
class _Not:
    inner: object

    def eval(self, subject) -> bool:
        return not self.inner.eval(subject)


@dataclass(frozen=True)
class _And:
    parts: tuple

    def eval(self, subject) -> bool:
        return all(p.eval(subject) for p in self.parts)


@dataclass(frozen=True)
class _Or:
    parts: tuple

    def eval(self, subject) -> bool:
        return any(p.eval(subject) for p in self.parts)


@dataclass(frozen=True)
class _AttrTest:
    """``@a`` / ``@a='v'``; with ``pred`` set, ``@a[<pred on value>]``."""

    name: str
    value: str | None = None
    pred: object | None = None

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return False  # text nodes have no attributes
        if self.name not in subject.attrs:
            return False
        v = subject.attrs.get(self.name) or ""
        if self.value is not None and v != self.value:
            return False
        if self.pred is not None and not self.pred.eval(v):
            return False
        return True


@dataclass(frozen=True)
class _ContainsAttr:
    name: str
    sub: str

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return False
        return self.sub in (subject.attrs.get(self.name) or "")


@dataclass(frozen=True)
class _ContainsText:
    """``contains(text(), 's')`` — the node's DIRECT text (normalized)."""

    sub: str

    def eval(self, subject) -> bool:
        t = subject if isinstance(subject, str) else subject.direct_text()
        return self.sub in t


@dataclass(frozen=True)
class _ContainsString:
    """``contains(., 's')`` — the node's full string-value."""

    sub: str

    def eval(self, subject) -> bool:
        return self.sub in _strval(subject)


@dataclass(frozen=True)
class _StringEq:
    """``.='v'`` — normalized string-value equality (see module doc)."""

    value: str

    def eval(self, subject) -> bool:
        return _norm(_strval(subject)) == self.value


@dataclass(frozen=True)
class _TextEq:
    """``text()='v'`` — ANY direct text node equals v (normalized)."""

    value: str

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return False  # a text or attribute node has no text() children
        return self.value in _texts(subject.content)


@dataclass(frozen=True)
class _HasText:
    """bare ``text()`` predicate — node has a non-blank direct text node."""

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return False  # a text or attribute node has no text() children
        return bool(_texts(subject.content))


@dataclass(frozen=True)
class _NormSpace:
    """``normalize-space()`` (truthy) / ``normalize-space()='v'``; with
    ``first_text``, ``normalize-space(text())``: the node-set ``text()``
    converts to its FIRST direct text node (XPath 1.0)."""

    value: str | None = None
    first_text: bool = False

    def eval(self, subject) -> bool:
        if not self.first_text:
            s = _norm(_strval(subject))
        elif isinstance(subject, str):
            s = ""  # a text or attribute node has no text() children
        else:
            s = (_texts(subject.content) or [""])[0]
        return bool(s) if self.value is None else s == self.value


@dataclass(frozen=True)
class _SelfTag:
    """``self::tag`` — subject is an element with this tag."""

    tag: str

    def eval(self, subject) -> bool:
        return not isinstance(subject, str) and subject.tag == self.tag


@dataclass(frozen=True)
class _ExistsPath:
    """Relative-path existence: ``[span[...]]`` / ``[./a]`` / ``[.//img]``."""

    branch: _Branch

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return False
        selected = _select(subject, self.branch.steps)
        if self.branch.mode == "attr":
            return bool(_extract(selected, self.branch))
        return bool(selected)


@dataclass(frozen=True)
class _CssNot:
    """CSS ``:not(<simple>)`` — structural non-match of a simple selector."""

    step: object

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return True
        return not (
            self.step.matches(subject)
            and all(p.eval(subject) for kind, p in self.step.preds if kind == "bool")
        )


@dataclass(frozen=True)
class _CssAttrOp:
    """CSS ``[a*=v]`` (contains) / ``[a~=v]`` (word) / ``[a^=v]`` / ``[a$=v]``."""

    name: str
    op: str
    value: str

    def eval(self, subject) -> bool:
        if isinstance(subject, str):
            return False
        v = subject.attrs.get(self.name)
        if v is None:
            return False
        if self.op == "*=":
            return self.value in v
        if self.op == "~=":
            return self.value in v.split()
        if self.op == "^=":
            return v.startswith(self.value)
        return v.endswith(self.value)  # $=


# ---------------------------------------------------------------------------
# steps
# ---------------------------------------------------------------------------


@dataclass
class _Step:
    #: descendant|child|following-sibling|preceding-sibling|parent
    axis: str = "descendant"
    tag: str | None = None  # None = any element ('*')
    node_id: str | None = None
    classes: tuple = ()
    nth_child: int | None = None  # CSS :nth-child(n); -1 = :last-child
    nth_of_type: int | None = None  # CSS :nth-of-type(n); -1 = last
    is_text: bool = False  # text() node test (terminal extraction step)
    is_parent: bool = False  # '..' abbreviation (parent of context set)
    #: ordered predicate list: ("pos", n) with n=-1 for last(), or
    #: ("bool", expr) — applied in source order (XPath filter semantics)
    preds: tuple = ()

    def matches(self, node: _Node) -> bool:
        if self.tag and node.tag != self.tag:
            return False
        if self.node_id is not None and node.attrs.get("id") != self.node_id:
            return False
        node_classes = (node.attrs.get("class") or "").split()
        for c in self.classes:
            if c not in node_classes:
                return False
        if self.nth_child is not None and not _nth(node, self.nth_child, None):
            return False
        return self.nth_of_type is None or _nth(node, self.nth_of_type, node.tag)


def _nth(node: _Node, want: int, tag: str | None) -> bool:
    """Is ``node`` the ``want``-th (``-1`` = last) element child of its
    parent, counting only ``tag`` children when ``tag`` is set?"""
    if node.parent is None:
        return False
    sibs = [
        c for c in node.parent.content
        if isinstance(c, _Node) and (tag is None or c.tag == tag)
    ]
    return sibs.index(node) + 1 == (len(sibs) if want == -1 else want)


#: a compiled single path (what ``compile_css`` / ``compile_xpath``
#: return): steps + extraction mode
@dataclass(frozen=True)
class _Branch:
    steps: tuple
    mode: str | None  # None | 'text' | 'attr'
    attr: str | None
    attr_pred: object | None = None  # predicate over the attr VALUE string


#: a full compiled selector: union branches + a chain of outer string
#: functions, OUTERMOST FIRST. Each element is ``('normalize-space',)``,
#: ``('count',)``, or ``('substring-after'|'substring-before', literal)``
#: — the reference nests the substring forms to slice values out of
#: inline-script literals (352 spiders, e.g.
#: ``substring-before(substring-after(//script/text(), 'lat: '), ',')``).
@dataclass(frozen=True)
class _Compiled:
    branches: tuple
    outer: tuple = ()


#: top-level ``concat(a, ' ', b, ...)`` (8 reference spiders — stitching
#: two layout fields into one string, e.g. address = title + zipcode).
#: args: ordered mix of ("lit", s) and ("path", _Compiled); evaluates to
#: ONE string — each path contributes its first result or ''.
@dataclass(frozen=True)
class _ConcatCompiled:
    args: tuple


# ---------------------------------------------------------------------------
# selector-string scanning: the one quote- and bracket-aware walk
# ---------------------------------------------------------------------------

_XP_LITERAL = re.compile(r"\"([^\"]*)\"|'([^']*)'")


def _lit(m: re.Match) -> str:
    return m.group(1) if m.group(1) is not None else m.group(2)


def _scan(src: str, pos: int = 0):
    """Yield ``(i, ch, depth)`` for every character of ``src`` from
    ``pos`` on that lies outside a string literal; ``depth`` counts the
    ``(``/``[`` still open after ``ch``. An unterminated literal raises
    ``ValueError``."""
    depth, n = 0, len(src)
    while pos < n:
        ch = src[pos]
        if ch in "\"'":
            m = _XP_LITERAL.match(src, pos)
            if not m:
                raise ValueError(f"unterminated literal in {src!r}")
            pos = m.end()
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        yield pos, ch, depth
        pos += 1


def _split_top(src: str, sep: str) -> list[str]:
    """Split ``src`` at its depth-0 ``sep`` characters; parts are stripped."""
    cuts = [i for i, ch, depth in _scan(src) if depth == 0 and ch == sep]
    bounds = zip([-1, *cuts], [*cuts, len(src)])
    return [src[a + 1:b].strip() for a, b in bounds]


def _balanced(s: str) -> bool:
    """True if parens/brackets balance (so the outer fn really wraps s)."""
    depth = 0
    for _, _, depth in _scan(s):
        if depth < 0:
            return False
    return depth == 0


# ---------------------------------------------------------------------------
# CSS compilation
# ---------------------------------------------------------------------------

_CSS_ATTR = r"\[[\w-]+(?:[*~^$]?=(?:\"[^\"]*\"|'[^']*'|[^\]]*))?\]"
_CSS_SIMPLE = (
    r"[.#][\w-]+"
    rf"|{_CSS_ATTR}"
    r"|:nth-child\(\d+\)"
    r"|:nth-of-type\(\d+\)"
    r"|:(?:first|last)-child"
    r"|:(?:first|last)-of-type"
    r"|:contains\((?:\"[^\"]*\"|'[^']*')\)"
    r"|:not\([^()]*\)"
)
_CSS_TOKEN = re.compile(
    r"(?P<tag>\*|[a-zA-Z][\w-]*)?"
    rf"(?P<rest>(?:{_CSS_SIMPLE})*)$"
)
_CSS_PART = re.compile(_CSS_SIMPLE)


def _parse_simple_css(token: str, child: bool) -> _Step:
    m = _CSS_TOKEN.match(token)
    if not m or (not m.group("tag") and not m.group("rest")):
        raise ValueError(f"unsupported css selector token: {token!r}")
    tag = m.group("tag")
    step = _Step(
        tag=None if tag in (None, "*") else tag,
        axis="child" if child else "descendant",
    )
    classes: list[str] = []
    preds: list[tuple] = []
    for part in _CSS_PART.findall(m.group("rest") or ""):
        if part.startswith("."):
            classes.append(part[1:])
        elif part.startswith("#"):
            step.node_id = part[1:]
        elif part.startswith(":nth-child"):
            step.nth_child = int(part[len(":nth-child("):-1])
        elif part.startswith(":nth-of-type"):
            step.nth_of_type = int(part[len(":nth-of-type("):-1])
        elif part == ":first-child":
            step.nth_child = 1
        elif part == ":last-child":
            step.nth_child = -1
        elif part == ":first-of-type":
            step.nth_of_type = 1
        elif part == ":last-of-type":
            step.nth_of_type = -1
        elif part.startswith(":contains"):
            # Scrapy's :contains() matches the node's FULL text (lxml
            # set:contains over descendant text), not just direct text
            preds.append(("bool", _ContainsString(part[len(":contains(") + 1:-2])))
        elif part.startswith(":not("):
            preds.append(("bool", _CssNot(_parse_simple_css(part[5:-1], False))))
        else:  # [attr], [attr=v], [attr*=v], [attr~=v], [attr^=v], [attr$=v]
            inner = part[1:-1]
            om = re.match(r"([\w-]+)(?:([*~^$]?=)(.*))?$", inner)
            name, op, value = om.group(1), om.group(2), om.group(3)
            if op is None:
                preds.append(("bool", _AttrTest(name, None)))
            elif op == "=":
                preds.append(("bool", _AttrTest(name, value.strip("\"'"))))
            else:
                preds.append(("bool", _CssAttrOp(name, op, value.strip("\"'"))))
    step.classes = tuple(classes)
    step.preds = tuple(preds)
    return step


#: combinator char -> step axis ('' = leading compound)
_CSS_COMBINATORS = {
    " ": "descendant",
    ">": "child",
    "+": "adjacent-sibling",  # next ELEMENT sibling must match
    "~": "following-sibling",
}


def _split_css(sel: str) -> list[tuple[str, str]]:
    """-> ``[(combinator, compound), ...]`` with combinator in
    ``' '/'>'/'+'/'~'`` (``''`` for the first compound). Quote- and
    paren-aware so whitespace inside ``:contains('For Rent')`` never
    splits a compound; combinators bind spaced or unspaced (52 spiders
    write ``ul>li``, 46 write ``i.fa-phone + a``)."""
    out: list[tuple[str, str]] = []
    comb, start = "", 0  # start: first character after the last combinator
    for i, ch, depth in _scan(sel):
        if depth or ch not in " \t>+~":
            continue
        if i > start or not out:  # a combinator run begins
            if i == start:
                raise ValueError(f"dangling combinator in css {sel!r}")
            out.append((comb, sel[start:i]))
            comb = " "
        if ch in ">+~":
            comb = ch
        start = i + 1
    if start < len(sel):
        out.append((comb, sel[start:]))
    elif comb != " " or not out:
        raise ValueError(f"dangling combinator in css {sel!r}")
    return out


def compile_css(selector: str) -> _Branch:
    """One CSS selector (no comma union) -> ``_Branch``."""
    sel = selector.strip()
    mode, attr, deep_text = None, None, False
    m = re.search(r"::(text|attr\(([\w-]+)\))$", sel)
    if m:
        mode = "text" if m.group(1) == "text" else "attr"
        attr = m.group(2)
        # parsel: 'a ::text' (space before ::) = descendant text
        deep_text = mode == "text" and m.start() > 0 and sel[m.start() - 1] in " \t"
        sel = sel[: m.start()].strip()
    steps: list[_Step] = []
    for comb, compound in _split_css(sel):
        step = _parse_simple_css(compound, child=False)
        step.axis = _CSS_COMBINATORS.get(comb, "descendant")
        steps.append(step)
    if not steps:
        raise ValueError(f"empty css selector: {selector!r}")
    if mode == "text":
        steps.append(_Step(axis="descendant" if deep_text else "child",
                           is_text=True))
    return _Branch(tuple(steps), mode, attr)


# ---------------------------------------------------------------------------
# XPath compilation
# ---------------------------------------------------------------------------

_AXES = {
    "child::": "child",
    "descendant::": "descendant",
    "following-sibling::": "following-sibling",
    "preceding-sibling::": "preceding-sibling",
    "following::": "following",
    "preceding::": "preceding",
    "parent::": "parent",
}

_XP_SEP = re.compile(r"//|/")
_XP_AXIS = re.compile(
    r"(?:child|descendant|following-sibling|preceding-sibling"
    r"|following|preceding|parent)::"
)
_XP_TEST = re.compile(r"@[\w-]+|text\(\)|\.\.|\*|[a-zA-Z][\w-]*")
_XP_NAME = re.compile(r"[\w-]+")
_XP_TAG = re.compile(r"[a-zA-Z][\w-]*")


class _PredParser:
    """Recursive-descent parser for one ``[...]`` predicate body."""

    def __init__(self, src: str):
        self.src = src
        self.pos = 0

    def _ws(self):
        while self.pos < len(self.src) and self.src[self.pos] == " ":
            self.pos += 1

    def _eat(self, token: str) -> bool:
        self._ws()
        if self.src.startswith(token, self.pos):
            self.pos += len(token)
            return True
        return False

    def _literal(self) -> str:
        self._ws()
        m = _XP_LITERAL.match(self.src, self.pos)
        if not m:
            raise ValueError(f"expected string literal at {self.src[self.pos:]!r}")
        self.pos = m.end()
        return _lit(m)

    def _expect(self, token: str):
        if not self._eat(token):
            raise ValueError(
                f"expected {token!r} at {self.src[self.pos:]!r} in predicate"
            )

    def _match(self, pattern: re.Pattern, what: str) -> str:
        m = pattern.match(self.src, self.pos)
        if not m:
            raise ValueError(f"unsupported {what} at {self.src[self.pos:]!r}")
        self.pos = m.end()
        return m.group()

    def parse(self):
        expr = self.or_expr()
        self._ws()
        if self.pos != len(self.src):
            raise ValueError(f"trailing predicate content: {self.src[self.pos:]!r}")
        return expr

    def or_expr(self):
        parts = [self.and_expr()]
        # ``|`` inside a predicate is a node-set union; as a boolean it
        # is truthy iff either side is non-empty — i.e. ``or``
        # (``[self::h1 | self::h2]``, ``[./a | ./b]`` reference shapes)
        while self._eat("or ") or self._eat("|"):
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else _Or(tuple(parts))

    def and_expr(self):
        parts = [self.unary()]
        while self._eat("and "):
            parts.append(self.unary())
        return parts[0] if len(parts) == 1 else _And(tuple(parts))

    def unary(self):
        self._ws()
        if self._eat("not("):
            inner = self.or_expr()
            self._expect(")")
            return _Not(inner)
        if self._eat("("):
            inner = self.or_expr()
            self._expect(")")
            return inner
        return self.atom()

    def atom(self):
        self._ws()
        src, i = self.src, self.pos
        if self._eat("contains("):
            arg = self._contains_arg()
            self._expect(",")
            sub = self._literal()
            self._expect(")")
            return arg(sub)
        for call, first_text in (("normalize-space()", False),
                                 ("normalize-space(text())", True)):
            if self._eat(call):
                value = self._literal() if self._eat("=") else None
                return _NormSpace(value, first_text)
        if self._eat("self::"):
            expr = _SelfTag(self._match(_XP_TAG, "self:: test"))
            # self::span[@class='bold'] — trailing predicates AND onto
            # the same subject (the not(self::tag[...]) reference shape)
            while self.pos < len(self.src) and self.src[self.pos] == "[":
                body, self.pos = _scan_pred_body(self.src, self.pos)
                kind, p = _parse_pred_group(body)
                if kind != "bool":
                    raise ValueError(
                        f"positional predicate on self:: at {src[i:]!r}"
                    )
                expr = _And((expr, p))
            return expr
        if self._eat("text()"):
            if self._eat("="):
                return _TextEq(self._literal())
            return _HasText()
        if self._eat(".="):
            return _StringEq(self._literal())
        if self._eat(". ="):
            return _StringEq(self._literal())
        if self._eat("@"):
            name = self._match(_XP_NAME, "attribute test")
            if self._eat("["):  # @href[contains(.,'mailto')]
                inner = self.or_expr()
                self._expect("]")
                return _AttrTest(name, None, inner)
            if self._eat("="):
                return _AttrTest(name, self._literal())
            return _AttrTest(name, None)
        # relative path existence: ./x, .//x, x[...], x/y
        if src.startswith((".//", "./"), self.pos) or _XP_TAG.match(src, self.pos):
            return _exists_path(self._scan_path())
        raise ValueError(f"unsupported predicate atom at {src[i:]!r}")

    def _contains_arg(self):
        self._ws()
        if self._eat("@"):
            name = self._match(_XP_NAME, "attribute test")
            return lambda sub: _ContainsAttr(name, sub)
        if self._eat("text()"):
            return _ContainsText
        if self._eat("normalize-space(.)") or self._eat("normalize-space()"):
            return _ContainsString
        if self._eat("."):
            return _ContainsString
        raise ValueError(
            f"unsupported contains() argument at {self.src[self.pos:]!r}"
        )

    def _scan_path(self) -> str:
        """Consume a relative path up to a depth-0 boolean delimiter or
        the bracket that closes the enclosing group."""
        src, start = self.src, self.pos
        self.pos = len(src)
        for i, ch, depth in _scan(src, start):
            if depth < 0 or depth == 0 and (
                ch == "|" or src.startswith((" and ", " or "), i)
            ):
                self.pos = i
                break
        return src[start:self.pos]


def _exists_path(path: str) -> _ExistsPath:
    """Compile a relative path used as an existence predicate."""
    p = path.strip()
    if p.startswith(".//"):
        p = p[1:]  # './/a' -> '//a'
    elif p.startswith("./"):
        p = p[1:]  # './a' -> '/a'
    elif not p.startswith("/"):
        p = "/" + p  # 'span[...]' -> '/span[...]'
    return _ExistsPath(compile_xpath(p))


def _parse_pred_group(body: str) -> tuple:
    """One ``[...]`` body -> ("pos", n) or ("bool", expr)."""
    b = body.strip()
    if b == "last()":
        return ("pos", -1)
    if b.isdigit():
        return ("pos", int(b))
    return ("bool", _PredParser(b).parse())


def _scan_pred_body(src: str, pos: int) -> tuple[str, int]:
    """From '[' at src[pos], return (body, end_pos_after_bracket)."""
    for i, ch, depth in _scan(src, pos):
        if depth == 0:
            if ch == "]":
                return src[pos + 1:i], i + 1
            break
    raise ValueError(f"unbalanced predicate bracket in {src!r}")


def compile_xpath(xpath: str) -> _Branch:
    """Compile ONE path (no union / outer function) -> ``_Branch``."""
    src = xpath.strip()
    pos = 0
    steps: list[_Step] = []
    mode: str | None = None
    attr: str | None = None
    attr_pred = None
    while pos < len(src):
        if mode is not None:
            raise ValueError(f"@attr must be terminal: {xpath!r}")
        sep = _XP_SEP.match(src, pos)
        if not sep:
            raise ValueError(f"unsupported xpath: {xpath!r} at {src[pos:]!r}")
        pos = sep.end()
        axis = "descendant" if sep.group() == "//" else "child"
        am = _XP_AXIS.match(src, pos)
        if am:
            axis = _AXES[am.group()]
            pos = am.end()
        tm = _XP_TEST.match(src, pos)
        if not tm:
            raise ValueError(f"unsupported xpath: {xpath!r} at {src[pos:]!r}")
        test = tm.group()
        pos = tm.end()
        if test.startswith("@"):
            mode, attr = "attr", test[1:]
            # optional value predicate: @href[contains(.,'mailto')]
            if pos < len(src) and src[pos] == "[":
                body, pos = _scan_pred_body(src, pos)
                kind, p = _parse_pred_group(body)
                if kind != "bool":
                    raise ValueError(
                        f"@{attr} supports only boolean predicates: {xpath!r}"
                    )
                attr_pred = p
            continue
        step = _Step(axis=axis)
        if test == "text()":
            step.is_text = True
            mode = "text"
        elif test == "..":
            step.is_parent = True
        elif test != "*":
            step.tag = test
        preds: list[tuple] = []
        while pos < len(src) and src[pos] == "[":
            body, pos = _scan_pred_body(src, pos)
            preds.append(_parse_pred_group(body))
        step.preds = tuple(preds)
        steps.append(step)
        if step.is_text and pos < len(src):
            raise ValueError(f"text() must be terminal: {xpath!r}")
    if not steps:
        raise ValueError(f"empty xpath: {xpath!r}")
    return _Branch(tuple(steps), mode, attr, attr_pred)


_OUTER_FN = re.compile(
    r"(normalize-space|count|substring-after|substring-before)\((.*)\)$", re.S
)


def compile_selector(selector: str, lang: str = "css") -> _Compiled:
    """Full compiler: union + outer functions -> ``_Compiled``."""
    sel = selector.strip()
    if lang != "xpath":  # 'a, b' union — 58 spiders
        return _Compiled(tuple(compile_css(p) for p in _split_top(sel, ",")))
    if sel.startswith("concat(") and sel.endswith(")") and _balanced(
        sel[len("concat("):-1]
    ):
        args: list[tuple] = []
        for a in _split_top(sel[len("concat("):-1], ","):
            m = _XP_LITERAL.fullmatch(a)
            args.append(
                ("lit", _lit(m)) if m else ("path", compile_selector(a, "xpath"))
            )
        return _ConcatCompiled(tuple(args))
    outer: list[tuple] = []
    while True:
        m = _OUTER_FN.match(sel)
        if not (m and _balanced(m.group(2))):
            break
        fn, inner = m.group(1), m.group(2).strip()
        if fn in ("substring-after", "substring-before"):
            # exactly ``<path>, <one bare literal>``
            parts = _split_top(inner, ",")
            lit = _XP_LITERAL.fullmatch(parts[-1])
            if len(parts) != 2 or not lit:
                break
            inner = parts[0]
            outer.append((fn, _lit(lit)))
        else:
            outer.append((fn,))
        sel = inner
    branches = (compile_xpath(p) for p in _split_top(sel, "|") if p)
    return _Compiled(tuple(branches), tuple(outer))


# ---------------------------------------------------------------------------
# evaluation (iterative — explicit stacks, no recursion)
# ---------------------------------------------------------------------------


def _axis_content(ctx: _Node, axis: str) -> list:
    """Text strings and ``_Node``s along ``axis`` from ``ctx``, in axis
    order: the reverse axes (``preceding-sibling``, ``preceding``) run
    nearest first, so positional predicates count backwards, like lxml."""
    if axis == "child":
        return ctx.content
    if axis == "descendant":
        return list(_walk(ctx.content))
    if axis == "parent":
        return [ctx.parent] if ctx.parent is not None else []
    if axis in ("following", "preceding"):
        # document-order closure: every ancestor level contributes its
        # sibling subtrees. For ``following`` the nearest level's
        # subtrees come FIRST in document order (they start right after
        # ctx's subtree ends); for ``preceding`` the nearest level's
        # preceding siblings are the LATEST in document order, so
        # level-by-level nearest-first with each level reversed yields
        # axis order directly.
        out: list = []
        node = ctx
        while node.parent is not None:
            content = node.parent.content
            i = content.index(node)
            if axis == "following":
                out.extend(_walk(content[i + 1:]))
            else:
                out.extend(list(_walk(content[:i]))[::-1])
            node = node.parent
        return out
    if ctx.parent is None:
        return []
    content = ctx.parent.content
    i = content.index(ctx)
    if axis == "following-sibling":
        return content[i + 1:]
    if axis == "adjacent-sibling":  # CSS '+': the NEXT element sibling
        return [c for c in content[i + 1:] if isinstance(c, _Node)][:1]
    if axis == "preceding-sibling":
        return content[:i][::-1]
    raise ValueError(f"unknown axis: {axis}")


def _nth_item(items: list, position: int) -> list:
    """XPath ``[n]`` over one ordered group: positions start at 1 (so
    ``[0]`` selects nothing, as in lxml); ``-1`` is ``last()``."""
    if position == -1:
        return items[-1:]
    return items[position - 1:position] if position > 0 else []


def _apply_position(matched: list, position: int, by_parent: bool) -> list:
    """Positional predicate over already-matched candidates.

    ``by_parent=True`` (element steps on the child/descendant axes):
    XPath positions count within each parent's matching children
    (``//p[2]`` = every p that is the 2nd p child of ITS parent). Other
    steps count along the axis.
    """
    if not by_parent:
        return _nth_item(matched, position)
    groups: dict[int, list[_Node]] = {}
    for n in matched:
        groups.setdefault(id(n.parent), []).append(n)
    return [n for g in groups.values() for n in _nth_item(g, position)]


def _parent_set(ctx: _Node, axis: str) -> list[_Node]:
    """The ``..`` step: parent(s) of the context along the separator.

    ``/..`` = parent of ctx; ``//..`` = parents of descendant-or-self
    (deduped, document order)."""
    if axis != "descendant":
        return _axis_content(ctx, "parent")
    nodes = [ctx, *(c for c in _walk(ctx.content) if isinstance(c, _Node))]
    parents = {id(n.parent): n.parent for n in nodes if n.parent is not None}
    return list(parents.values())


def _run_preds(candidates: list, step: _Step, by_parent: bool) -> list:
    """Apply the step's ordered predicate list (filters + positions)."""
    for kind, p in step.preds:
        if not candidates:
            return candidates
        if kind == "pos":
            candidates = _apply_position(candidates, p, by_parent)
        else:
            candidates = [c for c in candidates if p.eval(c)]
    return candidates


def _select(root: _Node, steps: tuple) -> list:
    """Evaluate the steps; a terminal text() step returns strings."""
    current: list = [root]
    for step in steps:
        nxt: list = []
        seen: set[int] = set()
        by_parent = step.axis in ("child", "descendant") and not step.is_text
        for ctx in current:
            if step.is_parent:
                items = [n for n in _parent_set(ctx, step.axis) if step.matches(n)]
            elif step.is_text:
                items = _texts(_axis_content(ctx, step.axis))
            else:
                items = [
                    n for n in _axis_content(ctx, step.axis)
                    if isinstance(n, _Node) and step.matches(n)
                ]
            items = _run_preds(items, step, by_parent)
            if step.axis in ("preceding-sibling", "preceding"):
                # back from axis order to document order (lxml node-sets)
                items = items[::-1]
            if step.is_text:  # text nodes are never deduplicated
                nxt.extend(items)
                continue
            for n in items:
                if id(n) not in seen:
                    seen.add(id(n))
                    nxt.append(n)
        current = nxt
    return current


def _extract(selected: list, branch: _Branch) -> list[str]:
    if branch.mode == "text":
        return selected  # text nodes from the terminal text() step
    if branch.mode == "attr":
        vals = [n.attrs[branch.attr] for n in selected if branch.attr in n.attrs]
        if branch.attr_pred is not None:
            vals = [v for v in vals if branch.attr_pred.eval(v)]
        return vals
    return [n.all_text() for n in selected]


def _run_compiled(root: _Node, compiled) -> list[str]:
    if isinstance(compiled, _ConcatCompiled):
        pieces = []
        for kind, v in compiled.args:
            if kind == "lit":
                pieces.append(v)
            else:
                res = _run_compiled(root, v)
                pieces.append(res[0] if res else "")
        return ["".join(pieces)]
    out: list[str] = []
    for b in compiled.branches:
        out.extend(_extract(_select(root, b.steps), b))
    # outer string-function chain, applied innermost-first (compile
    # order is outermost-first). String conversion per XPath: the FIRST
    # node's string-value; '' when the node-set is empty.
    for fn in reversed(compiled.outer):
        if fn[0] == "count":
            # lxml returns an XPath number; .getall() stringifies ('3.0')
            out = [str(float(len(out)))]
        elif fn[0] == "normalize-space":
            out = [_norm(out[0]) if out else ""]
        else:
            s, needle = (out[0] if out else ""), fn[1]
            idx = s.find(needle)
            if fn[0] == "substring-after":
                out = [s[idx + len(needle) :] if idx >= 0 else ""]
            else:  # substring-before
                out = [s[:idx] if idx >= 0 else ""]
    return out


def select_html(html: str, selector: str, lang: str = "css") -> list[str]:
    """Evaluate one selector against one page (driver-side helper)."""
    return _run_compiled(parse_tree(html), compile_selector(selector, lang))


def _selector_udf(selector: str, lang: str):
    compiled = compile_selector(selector, lang)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def run(html: pd.Series) -> pd.Series:
        return pd.Series([_run_compiled(parse_tree(h), compiled) for h in html])

    return run


def css_extract(html: Column, selector: str) -> Column:
    """``response.css(selector).getall()`` analog -> array<string>."""
    return _selector_udf(selector, "css")(html)


def xpath_extract(html: Column, xpath: str) -> Column:
    """``response.xpath(xpath).getall()`` analog -> array<string>."""
    return _selector_udf(xpath, "xpath")(html)


# ---------------------------------------------------------------------------
# .re() / .re_first() composition (116 spiders, e.g. `.re_first(r"\d+")`)
# ---------------------------------------------------------------------------


def _re_group_index(pattern: str) -> int:
    """parsel semantics: patterns with a capture group return the group,
    group-less patterns return the full match."""
    return 1 if re.compile(pattern).groups >= 1 else 0


def re_over(arr: Column, pattern: str) -> Column:
    """``SelectorList.re(pattern)`` analog over an extracted array:
    findall per element, flattened — pure JVM (`regexp_extract_all`)."""
    idx = _re_group_index(pattern)
    return F.flatten(
        F.transform(
            arr, lambda s: F.regexp_extract_all(s, F.lit(pattern), F.lit(idx))
        )
    )


def css_re(html: Column, selector: str, pattern: str) -> Column:
    """``response.css(sel).re(pattern)`` -> array<string>."""
    return re_over(css_extract(html, selector), pattern)


def xpath_re(html: Column, xpath: str, pattern: str) -> Column:
    """``response.xpath(xp).re(pattern)`` -> array<string>."""
    return re_over(xpath_extract(html, xpath), pattern)


def re_first(arr_or_html: Column, *args) -> Column:
    """``.re_first(pattern)`` analog.

    ``re_first(arr, pattern)`` over an extracted array, or
    ``re_first(html, selector, pattern, lang='css')`` end to end.
    """
    if len(args) == 1:
        return F.try_element_at(re_over(arr_or_html, args[0]), F.lit(1))
    selector, pattern = args[0], args[1]
    lang = args[2] if len(args) > 2 else "css"
    arr = (css_extract if lang == "css" else xpath_extract)(arr_or_html, selector)
    return F.try_element_at(re_over(arr, pattern), F.lit(1))
