"""The jsonpath grammar — one parser for every path the engine reads.

The reference runs one jsonpath engine for field selection, config-time
path validation and exclusion matching (SURVEY §2.2 P2/P4/P5,
``exclusion.py:81-117``). Here :func:`parse` is that one grammar, and
each consumer reads its segments:

* :func:`~.spec.is_jsonpath` — a path is valid iff it parses;
* :class:`~.spec.Exclusion`, :func:`~.plans.validation.exclusion_filter`
  and :func:`~.plans.validation.prune_excluded_checks` —
  :func:`address_regex` turns the segments into one anchored regex over
  violation addresses (``$.<table>[<row key>].<column>...``);
* :class:`~.extensions.RequiredCheck` / :class:`~.extensions.CustomCheck`
  — the segments expand against a DataFrame schema.

Grammar (alternatives joined by a top-level ``|``)::

    alternative := '$' segment* | relative     relative ≡ '$..' relative
    segment     := '.' name | '.*' | '..' (name | '*' | bracket) | bracket
    bracket     := '[' ( '*' | int | quoted (',' quoted)* | slice
                       | '?' filter | key ) ']'

``key`` is an unquoted row key such as ``[doc-1]``; ``name`` is word
characters and ``-``. The ``&`` intersection operator is rejected
anywhere, as the reference does at config-build time.

Segments are tuples: ``("name", names)``, ``("wild",)`` (``.*``),
``("wild_arr",)`` (``[*]``), ``("index", i)``, ``("key", k)``,
``("slice", text)``, ``("filter", text)`` and ``("desc",)`` (``..``,
always followed by the selector it applies to).
"""

from __future__ import annotations

import re
from typing import NamedTuple


class JsonPath(NamedTuple):
    """One ``|`` alternative: ``rooted`` is False for a relative path,
    whose segments start with the ``("desc",)`` it is read as."""

    rooted: bool
    segments: tuple


_NAME = re.compile(r"[\w\-]+")
_QUOTED = "'[^']*'|\"[^\"]*\""
_QUOTED_NAMES = re.compile(rf"\[\s*((?:{_QUOTED})(?:\s*,\s*(?:{_QUOTED}))*)\s*\]")
_INDEX = re.compile(r"-?(?:0|[1-9]\d*)")
_SLICE = re.compile(r"-?\d*\s*:\s*-?\d*(?:\s*:\s*-?\d*)?")


def parse(path: str) -> list[JsonPath]:
    """Parse ``path`` into its ``|`` alternatives; raises
    ``ValueError`` on anything outside the grammar."""
    if not isinstance(path, str) or not path.strip():
        raise ValueError(f"not a JSON path: {path!r}")
    if "&" in path:
        raise ValueError(
            f"Cannot use the JSON path `{path}`: the `&` intersection "
            "operator is not supported."
        )
    alts, depth, start = [], 0, 0
    for i, ch in enumerate(path):
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        elif ch == "|" and depth == 0:
            alts.append(path[start:i])
            start = i + 1
    alts.append(path[start:])
    return [_parse_alternative(alt.strip()) for alt in alts]


def _parse_alternative(alt: str) -> JsonPath:
    rooted = alt.startswith("$")
    if rooted:
        body = alt[1:]
    else:  # relative: matches at any depth, i.e. a leading `..`
        body = alt if alt.startswith("..") else ".." + alt.removeprefix(".")
    segs: list[tuple] = []
    i, n = 0, len(body)
    while i < n:
        if body.startswith("..", i):
            segs.append(("desc",))
            i += 2
            if i < n and body[i] == "[":
                continue
            seg, i = _dot_selector(body, i, alt)
        elif body[i] == ".":
            seg, i = _dot_selector(body, i + 1, alt)
        elif body[i] == "[":
            seg, i = _bracket(body, i, alt)
        else:
            raise ValueError(
                f"Cannot use the JSON path `{alt}`: unexpected character "
                f"{body[i]!r}."
            )
        segs.append(seg)
    return JsonPath(rooted, tuple(segs))


def _dot_selector(body: str, i: int, alt: str) -> tuple[tuple, int]:
    if body.startswith("*", i):
        return ("wild",), i + 1
    m = _NAME.match(body, i)
    if m is None:
        raise ValueError(
            f"Cannot use the JSON path `{alt}`: expected a name or `*` "
            f"at `{body[i:]}`."
        )
    return ("name", (m.group(),)), m.end()


def _bracket(body: str, i: int, alt: str) -> tuple[tuple, int]:
    m = _QUOTED_NAMES.match(body, i)
    if m is not None:
        names = tuple(q[1:-1] for q in re.findall(_QUOTED, m.group(1)))
        return ("name", names), m.end()
    j = body.find("]", i)
    if j < 0:
        raise ValueError(f"Cannot use the JSON path `{alt}`: unbalanced brackets.")
    inner = body[i + 1 : j].strip()
    if inner == "*":
        seg = ("wild_arr",)
    elif _INDEX.fullmatch(inner):
        seg = ("index", int(inner))
    elif inner.startswith("?"):
        seg = ("filter", inner)
    elif _SLICE.fullmatch(inner):
        seg = ("slice", inner)
    elif inner and not any(c in inner for c in "['\""):
        seg = ("key", inner)
    else:
        raise ValueError(
            f"Cannot use the JSON path `{alt}`: bad selector `[{inner}]`."
        )
    return seg, j + 1


# --- violation addresses -----------------------------------------------------

_DOT_NAME = r"\.[^.\[\]]+"
#: a bracket segment: a row key (``]`` and backslash escaped, see
#: ``issue.violation_address``; possibly empty) or an index
_BRACKET = r"\[(?:[^\]\\]|\\.)*\]"
_SEGMENT = rf"(?:{_DOT_NAME}|{_BRACKET})"


def _segment_regex(seg: tuple) -> str:
    kind = seg[0]
    if kind == "name":
        names = [re.escape(nm) for nm in seg[1]]
        return r"\." + (names[0] if len(names) == 1 else f"(?:{'|'.join(names)})")
    if kind == "wild":
        return _DOT_NAME
    if kind == "wild_arr":
        return _BRACKET
    if kind in ("index", "key"):
        return r"\[" + re.escape(str(seg[1])) + r"\]"
    if kind == "desc":
        return _SEGMENT + "*"
    raise ValueError(f"a {kind} selector cannot address a violation row")


def address_regex(path: str) -> str:
    """Anchored regex (valid in Python ``re`` and Java, for ``rlike``)
    matching exactly the violation addresses ``path`` selects
    (ref exclusion.py:81-117, tests/test_exclusion.py:87-121):

    * ``.name`` / ``['a','b']`` match those names, ``.*`` any one name;
    * ``[*]`` matches any row key or index, ``[doc-1]`` / ``[3]`` that one;
    * ``..`` matches any number of segments, and a final ``..*`` any
      descendant; a relative path matches at any depth;
    * ``|`` alternatives are alternations; bare ``$`` matches only the
      root, never a data-plane issue.

    Slices and filters cannot address a violation row and raise
    ``ValueError``."""
    alts = []
    for alt in parse(path):
        segs, tail = alt.segments, ""
        if segs[-2:] == (("desc",), ("wild",)):
            segs, tail = segs[:-2], _SEGMENT + "+"
        alts.append(r"\$" + "".join(_segment_regex(s) for s in segs) + tail)
    return f"^(?:{'|'.join(alts)})$"
