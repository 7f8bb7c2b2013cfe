"""Shared utilities: timedelta parsing and a minimal tree node.

Reimplements (from public knowledge, no code copied):
  - ``parse_timedelta`` — reference behavior at ``src/aces/utils.py:14-46``
    (reference delegates to the public ``pytimeparse`` package; we hand-roll
    an equivalent grammar because pytimeparse is not available here).
  - ``Node`` — a minimal replacement for the public ``bigtree.Node`` surface
    the reference uses (``src/aces/config.py:1574-1666``): named nodes with
    ``parent``/``children`` links plus arbitrary attributes.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator
from datetime import timedelta

_UNIT_SECONDS = {
    "w": 604800.0,
    "wk": 604800.0,
    "wks": 604800.0,
    "week": 604800.0,
    "weeks": 604800.0,
    "d": 86400.0,
    "day": 86400.0,
    "days": 86400.0,
    "h": 3600.0,
    "hr": 3600.0,
    "hrs": 3600.0,
    "hour": 3600.0,
    "hours": 3600.0,
    "m": 60.0,
    "min": 60.0,
    "mins": 60.0,
    "minute": 60.0,
    "minutes": 60.0,
    "s": 1.0,
    "sec": 1.0,
    "secs": 1.0,
    "second": 1.0,
    "seconds": 1.0,
}

_TERM_RE = re.compile(r"(?P<value>\d+(?:\.\d+)?)\s*(?P<unit>[a-zA-Z]+)")
_CLOCK_RE = re.compile(r"^(?:(?P<h>\d+):)?(?P<m>\d{1,2}):(?P<s>\d{1,2}(?:\.\d+)?)$")


def parse_timedelta(time_str: str | None = None) -> timedelta:
    """Parse a human-readable duration string into a :class:`datetime.timedelta`.

    Mirrors the grammar accepted by the reference engine's config language
    (``src/aces/utils.py:14-46``): unit terms ("2 days 4 hours", "24h",
    "365 days"), clock forms ("14:20:16"), combinations
    ("1 day, 14:20:16"), and a leading sign. Empty/None parses to zero.

    >>> parse_timedelta("1 days")
    datetime.timedelta(days=1)
    >>> parse_timedelta("1 day, 14:20:16")
    datetime.timedelta(days=1, seconds=51616)
    >>> parse_timedelta("-24h")
    datetime.timedelta(days=-1)
    >>> parse_timedelta("")
    datetime.timedelta(0)
    >>> parse_timedelta(None)
    datetime.timedelta(0)
    >>> parse_timedelta("2h32m")
    datetime.timedelta(seconds=9120)
    """
    if not time_str:
        return timedelta(0)

    s = time_str.strip()
    sign = 1
    if s.startswith("-"):
        sign = -1
        s = s[1:].strip()
    elif s.startswith("+"):
        s = s[1:].strip()

    total = 0.0
    matched_any = False
    for part in (p.strip() for p in s.split(",")):
        if not part:
            continue
        clock = _CLOCK_RE.match(part)
        if clock:
            h = float(clock.group("h") or 0)
            m = float(clock.group("m"))
            sec = float(clock.group("s"))
            total += h * 3600 + m * 60 + sec
            matched_any = True
            continue
        pos = 0
        for term in _TERM_RE.finditer(part):
            unit = term.group("unit").lower()
            if unit not in _UNIT_SECONDS:
                raise ValueError(f"Unknown time unit '{term.group('unit')}' in '{time_str}'")
            total += float(term.group("value")) * _UNIT_SECONDS[unit]
            matched_any = True
            pos = term.end()
        leftover = part[pos:].strip() if pos else part
        if pos == 0 or (pos and leftover):
            if leftover:
                raise ValueError(f"Could not parse time string: '{time_str}'")

    if not matched_any:
        raise ValueError(f"Could not parse time string: '{time_str}'")

    return timedelta(seconds=sign * total)


class Node:
    """A minimal named tree node (replacement for the public bigtree.Node API
    surface used by the reference: name, parent/children, extra attrs,
    preorder iteration)."""

    def __init__(self, name: str, **attrs) -> None:
        self.name = name
        self._parent: Node | None = None
        self._children: list[Node] = []
        for k, v in attrs.items():
            setattr(self, k, v)

    @property
    def node_name(self) -> str:
        return self.name

    @property
    def parent(self) -> Node | None:
        return self._parent

    @parent.setter
    def parent(self, new_parent: Node | None) -> None:
        if self._parent is not None and self in self._parent._children:
            self._parent._children.remove(self)
        self._parent = new_parent
        if new_parent is not None and self not in new_parent._children:
            new_parent._children.append(self)

    @property
    def children(self) -> tuple[Node, ...]:
        return tuple(self._children)

    @children.setter
    def children(self, new_children) -> None:
        self._children = list(new_children)
        for c in self._children:
            c._parent = self

    def __repr__(self) -> str:  # pragma: no cover
        return f"Node({self.name!r}, children={[c.name for c in self._children]})"


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier. Predicate and window
    names are ``\\w+`` (so SQL keywords, a leading digit and non-ASCII
    letters are all legal) and node names contain dots, so the planners
    quote every name they put in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_literal(v) -> str:
    """A config value as the SQL literal ``F.lit(v)`` would make: ints stay
    integral, floats are doubles (``D`` suffix; the bare ``1.5`` is a
    decimal), anything else is a string."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
    return sql_str(str(v))


def preorder_iter(node: Node) -> Iterator[Node]:
    """Yield ``node`` and all descendants in pre-order (reference:
    ``bigtree.preorder_iter`` used at ``src/aces/query.py:158``)."""
    yield node
    for child in node.children:
        yield from preorder_iter(child)
