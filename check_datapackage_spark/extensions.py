"""User-defined checks — the reference's extensions surface (U1–U3,
SURVEY §2.6; ref ``src/check_datapackage/extensions.py``).

* :class:`CustomCheck` — ref ``CustomCheck.apply`` (extensions.py:21-93):
  user supplies a vectorized predicate ``Callable[[pd.Series],
  pd.Series]`` (bool, True = pass); the engine wraps it in an
  Arrow-batched pandas UDF and emits one violation per failing row.
  ``type="required"`` is forbidden exactly like the reference
  (extensions.py:61-69). Per BASELINE input_hint the pandas-UDF path is
  the engine's ONLY Python surface — no per-row Python.
* :class:`RequiredCheck` — ref ``RequiredCheck.apply``
  (extensions.py:141-211): make a column required → a C1 null check on
  that column (nested targets via dotted paths).
* :func:`apply_extensions` — ref extensions.py:264-283: fold all
  extension checks into the fused plan (still one scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .compile import CompiledCheck
from .jsonpath import parse as parse_jsonpath


class ExtensionError(ValueError):
    """Invalid extension declaration (config-time, ref extensions.py:61-69)."""


@dataclass(frozen=True)
class CustomCheck:
    """A user check over one column (ref extensions.py:21-93).

    ``check`` maps a pandas Series of column values to a boolean Series
    (True = value passes). ``type`` must not be "required"
    (ref extensions.py:61-69 raises on it).
    """

    type: str
    message: str
    column: Optional[str] = None
    check: Callable[[pd.Series], pd.Series] = field(
        default=None, compare=False, hash=False
    )
    jsonpath: Optional[str] = None

    def __post_init__(self) -> None:
        if self.type == "required":
            raise ExtensionError(
                'The "required" type is reserved; use RequiredCheck instead.'
            )
        if self.check is None:
            raise ExtensionError("CustomCheck needs a `check` callable.")
        if (self.column is None) == (self.jsonpath is None):
            raise ExtensionError(
                "CustomCheck needs exactly one of `column` or `jsonpath`."
            )
        if self.jsonpath is not None:
            _schema_paths(self.jsonpath, "CustomCheck", name_leaf=False)

    def _ok_udf(self):
        fn = self.check

        @F.pandas_udf(T.BooleanType())
        def _ok(s: pd.Series) -> pd.Series:
            out = fn(s)
            return out.astype(bool)

        return _ok

    def _ok_array_udf(self):
        """Per-item predicate over ``array<leaf>`` values: flatten the
        batch's items into one Series, run the user's vectorized check
        ONCE, regroup to an all-items-pass boolean per row. Null arrays
        and null items are no-ops (ref: unmatched paths)."""
        fn = self.check

        @F.pandas_udf(T.BooleanType())
        def _ok(s: pd.Series) -> pd.Series:
            vals = [None if v is None else list(v) for v in s]
            flat = pd.Series(
                [x for v in vals if v is not None for x in v], dtype=object
            )
            passed = pd.Series(True, index=flat.index, dtype=bool)
            nn = flat.notna()
            if nn.any():
                res = pd.Series(fn(flat[nn]))
                passed.loc[nn] = res.astype(bool).to_numpy()
            out, pos = [], 0
            for v in vals:
                if v is None:
                    out.append(True)
                else:
                    n = len(v)
                    out.append(bool(passed.iloc[pos : pos + n].all()))
                    pos += n
            return pd.Series(out)

        return _ok

    def compile(self) -> CompiledCheck:
        if self.column is None:
            raise ExtensionError(
                "jsonpath CustomCheck needs the DataFrame schema — "
                "use compile_all(schema) (check_table does this)."
            )
        col = F.col(self.column)
        return CompiledCheck(
            name=f"{self.column}.custom.{self.type}",
            column=self.column,
            issue_type=self.type,
            message=self.message,
            ok=col.isNull() | self._ok_udf()(col),
            instance=col.cast("string"),
        )

    def compile_all(self, schema=None) -> list[CompiledCheck]:
        """One CompiledCheck per resolved jsonpath target (ref
        ``CustomCheck.apply``, extensions.py:72-93: the predicate runs
        on every field matching the path; unmatched paths are no-ops).
        """
        if self.column is not None:
            return [self.compile()]
        if schema is None:
            raise ExtensionError(
                "jsonpath CustomCheck requires a schema to derive targets."
            )
        checks = []
        for alt in _schema_paths(self.jsonpath, "CustomCheck", name_leaf=False):
            for t in _resolve_targets(schema, alt):
                display = t.path.removeprefix("$.")
                if t.in_arr:
                    vals = F.transform(t.arr, t.item_fn)
                    ok = t.arr.isNull() | self._ok_array_udf()(vals)
                    instance = F.lit(None).cast("string")
                else:
                    leaf = t.expr
                    ok = leaf.isNull() | self._ok_udf()(leaf)
                    if t.na is not None:
                        ok = t.na | ok
                    instance = leaf.cast("string")
                checks.append(
                    CompiledCheck(
                        name=f"{display}.custom.{self.type}",
                        column=t.root_col,
                        issue_type=self.type,
                        message=self.message,
                        ok=ok,
                        instance=instance,
                    )
                )
        return checks


# --- jsonpath target derivation --------------------------------------------
#
# Mirrors ref extensions.py:109-138 (_jsonpath_to_targets) +
# tests/test_extensions.py:120-240: wildcard (`$.*.id`), array wildcard
# (`$.contributors[*].name`), name unions (`$['a','b']`), path unions
# (`$.a | $.b`), non-final recursive descent (`$..licenses[*].title`).
# Paths parse in the one grammar of `jsonpath.py` and are validated at
# CONSTRUCTION time (ValueError parity).


def _schema_paths(path: str, label: str, name_leaf: bool) -> list[tuple]:
    """The segments of each ``|`` alternative of ``path``, restricted to
    what addresses a schema field: rooted paths of names, wildcards,
    indices and ``..name``. With ``name_leaf`` (RequiredCheck) the last
    segment must also be a plain name selector not reached by ``..``.
    CustomCheck takes any leaf (the reference routes it through the
    general jsonpath library)."""
    out = []
    for alt in parse_jsonpath(path):
        segs = alt.segments
        where = f"Cannot use the JSON path `{path}` in `{label}`"
        if not alt.rooted:
            raise ValueError(f"{where}: paths must start at the root (`$`).")
        for k, seg in enumerate(segs):
            if seg[0] in ("key", "slice", "filter"):
                raise ValueError(f"{where}: a {seg[0]} selector does not address a field.")
            if seg[0] == "desc" and segs[k + 1][0] != "name":
                raise ValueError(f"{where}: `..` must be followed by a name.")
        if name_leaf and segs:
            if len(segs) > 1 and segs[-2] == ("desc",):
                raise ValueError(
                    f"{where} because it ends in the recursive descent (`..`) operator."
                )
            if segs[-1][0] != "name":
                raise ValueError(f"{where} because it doesn't end in a name selector.")
        out.append(segs)
    return out


@dataclass(frozen=True)
class _Target:
    """A resolved jsonpath target: leaf addressing shared by
    RequiredCheck (null test) and CustomCheck (user predicate).

    For scalar targets ``expr`` is the leaf Column and ``na`` (optional)
    is true when the path matches nothing (null parent / short array) ⇒
    the check is a no-op. For array-crossing targets (``in_arr``),
    ``arr`` is the array Column and ``item_fn`` maps one item Column to
    the leaf value — checks run per-item.
    """

    path: str  # dotted display path
    root_col: str  # top-level DataFrame column the target lives under
    in_arr: bool
    expr: object = None  # Column (scalar targets)
    na: object = None  # Column: true ⇒ unmatched path ⇒ no-op
    arr: object = None  # Column (array targets)
    item_fn: object = None  # item Column -> leaf Column

    def required_ok(self):
        """Null-check predicate (RequiredCheck semantics)."""
        if self.in_arr:
            # NB: bind the leaf fn via a factory, not a lambda default —
            # Spark's higher-order functions introspect the lambda's
            # parameter count and would pass a Column for the default.
            leaf = self.item_fn
            item_pred = (
                lambda _leaf: lambda x: x.isNull() | _leaf(x).isNotNull()
            )(leaf)
            return self.arr.isNull() | F.forall(self.arr, item_pred)
        ok = self.expr.isNotNull()
        # an unmatched path (null parent, null/short array before an
        # index segment) is a no-op ⇒ pass (ref: unmatched paths);
        # `na` was built from the expression chain during descent, so
        # index segments are guarded too (ADVICE r2).
        if self.na is not None:
            ok = self.na | ok
        return ok


def _struct_children(dtype) -> dict:
    if dtype.typeName() == "struct":
        return {f.name: f.dataType for f in dtype.fields}
    return {}


def _resolve_targets(schema, segments: list[tuple], path_so_far: str = "$"):
    """Expand one parsed path against a DataFrame StructType.

    A candidate is (expr, dtype, path, root, item_fn, arr) — ``item_fn``
    is set once the path crossed an ``[*]`` array segment (leaf checks
    then run under ``forall``); a second array crossing raises.
    Unmatched names drop silently (a jsonpath that matches nothing is
    not an error — ref `$` root test).
    """
    from pyspark.sql.types import StructType

    # candidate: dict(expr, dtype, path, root, in_arr, item_fn, arr_expr, guard)
    cands = [
        {
            "expr": None,  # None = row root
            "dtype": schema,
            "path": "$",
            "root": None,
            "in_arr": False,
            "item_fn": None,
            "arr": None,
            "na": None,  # Column: true ⇒ path matches nothing ⇒ no-op
        }
    ]

    def descend_name(c, name):
        ch = _struct_children(c["dtype"])
        if name not in ch:
            return None
        nd = ch[name]
        n = dict(c)
        n["dtype"] = nd
        n["path"] = f"{c['path']}.{name}"
        if c["root"] is None:
            n["root"] = name
        if c["in_arr"]:
            prev = c["item_fn"]
            n["item_fn"] = (lambda p: (lambda x: p(x)[name]))(prev)
        else:
            # unmatched-parent guard comes from the EXPRESSION chain
            # (a null parent nulls every descendant, so guarding the
            # immediate parent suffices) — never from re-parsing the
            # display path, which broke on `[i]` segments (ADVICE r2).
            n["na"] = None if c["expr"] is None else c["expr"].isNull()
            n["expr"] = F.col(name) if c["expr"] is None else c["expr"][name]
        return n

    def enter_array(c):
        dt = c["dtype"]
        if dt.typeName() != "array":
            return None
        if c["in_arr"]:
            raise ExtensionError(
                f"RequiredCheck path `{c['path']}[*]` crosses two array "
                "levels — not supported; target the inner array directly."
            )
        n = dict(c)
        n["dtype"] = dt.elementType
        n["path"] = f"{c['path']}[*]"
        n["in_arr"] = True
        n["arr"] = c["expr"]
        n["item_fn"] = lambda x: x
        return n

    def desc_all(c, name, acc):
        """All fields named ``name`` reachable via struct/array descent."""
        hit = descend_name(c, name)
        if hit is not None:
            acc.append(hit)
        for ch_name in _struct_children(c["dtype"]):
            nxt = descend_name(c, ch_name)
            if nxt is None:
                continue
            if nxt["dtype"].typeName() == "array":
                try:
                    inner = enter_array(nxt)
                except ExtensionError:
                    continue
                if inner is not None and isinstance(
                    inner["dtype"], StructType
                ):
                    desc_all(inner, name, acc)
            elif isinstance(nxt["dtype"], StructType):
                desc_all(nxt, name, acc)
        return acc

    for k, seg in enumerate(segments):
        if seg[0] == "desc":
            continue  # applied with the name segment that follows it
        descend = k > 0 and segments[k - 1] == ("desc",)
        new = []
        for c in cands:
            if descend:
                for nm in seg[1]:
                    desc_all(c, nm, new)
            elif seg[0] == "name":
                for nm in seg[1]:
                    # auto-enter a single array layer so `$.a.b` over
                    # array<struct> behaves like `$.a[*].b`; explicit
                    # [*] stays the documented form
                    t = descend_name(c, nm)
                    if t is None and c["dtype"].typeName() == "array":
                        inner = enter_array(c)
                        if inner is not None:
                            t = descend_name(inner, nm)
                    if t is not None:
                        new.append(t)
            elif seg[0] == "wild":
                for nm in _struct_children(c["dtype"]):
                    t = descend_name(c, nm)
                    if t is not None:
                        new.append(t)
            elif seg[0] == "wild_arr":
                t = enter_array(c)
                if t is not None:
                    new.append(t)
            elif seg[0] == "index":
                if c["dtype"].typeName() == "array" and not c["in_arr"]:
                    idx = seg[1]
                    arr = c["expr"]
                    n = dict(c)
                    n["dtype"] = c["dtype"].elementType
                    n["path"] = f"{c['path']}[{idx}]"
                    # F.get / try_element_at, NOT getItem: ANSI mode
                    # (Spark 4 default) makes getItem THROW on an
                    # out-of-bounds index instead of returning NULL.
                    # A null or too-short array means the path matches
                    # nothing ⇒ no-op (ref: unmatched paths), tracked
                    # in `na`. Negative jsonpath indices count from the
                    # end, like jsonpath-ng ([-1] = last element).
                    if idx >= 0:
                        n["expr"] = F.get(arr, F.lit(idx))
                        n["na"] = arr.isNull() | (F.size(arr) <= F.lit(idx))
                    else:
                        n["expr"] = F.try_element_at(arr, F.lit(idx))
                        n["na"] = arr.isNull() | (F.size(arr) < F.lit(-idx))
                    new.append(n)
        cands = new

    targets = []
    for c in cands:
        if c["root"] is None:
            continue  # `$` alone — matches nothing actionable
        targets.append(
            _Target(
                path=c["path"],
                root_col=c["root"],
                in_arr=c["in_arr"],
                expr=None if c["in_arr"] else c["expr"],
                na=None if c["in_arr"] else c["na"],
                arr=c["arr"],
                item_fn=c["item_fn"],
            )
        )
    return targets


@dataclass(frozen=True)
class RequiredCheck:
    """Make a column required (ref extensions.py:141-211).

    Two surfaces:
    * ``column`` — a plain (possibly dotted) column path, the simple
      case.
    * ``jsonpath`` — full target derivation against the DataFrame
      schema: wildcards (``$.*.id``), array wildcards
      (``$.contributors[*].name`` → ``forall`` per-item requirement),
      name unions (``$['licenses','sources']``), path unions
      (``$.a | $.b``), and non-final recursive descent
      (``$..licenses[*].title``). Invalid/ambiguous paths raise
      ``ValueError`` at construction exactly like the reference
      (ends-in-``..``, ends-in-wildcard, ``&`` operator).

    ``compile_all(schema)`` returns one CompiledCheck per resolved
    target; ``compile()`` keeps the single-column fast path.
    """

    column: Optional[str] = None
    message: Optional[str] = None
    jsonpath: Optional[str] = None

    def __post_init__(self) -> None:
        if (self.column is None) == (self.jsonpath is None):
            raise ExtensionError(
                "RequiredCheck needs exactly one of `column` or `jsonpath`."
            )
        if self.jsonpath is not None:
            _schema_paths(self.jsonpath, "RequiredCheck", name_leaf=True)

    def compile(self) -> CompiledCheck:
        if self.column is None:
            raise ExtensionError(
                "jsonpath RequiredCheck needs the DataFrame schema — "
                "use compile_all(schema) (check_table does this)."
            )
        col = F.col(self.column)
        return CompiledCheck(
            name=f"{self.column}.required.ext",
            column=self.column,
            issue_type="required",
            message=self.message or f"{self.column} is a required property",
            ok=col.isNotNull(),
            instance=col.cast("string"),
        )

    def compile_all(self, schema=None) -> list[CompiledCheck]:
        if self.column is not None:
            return [self.compile()]
        if schema is None:
            raise ExtensionError(
                "jsonpath RequiredCheck requires a schema to derive targets."
            )
        checks = []
        for alt in _schema_paths(self.jsonpath, "RequiredCheck", name_leaf=True):
            for t in _resolve_targets(schema, alt):
                display = t.path.removeprefix("$.")
                checks.append(
                    CompiledCheck(
                        name=f"{display}.required.ext",
                        column=t.root_col,
                        issue_type="required",
                        message=self.message
                        or f"{display} is a required property",
                        ok=t.required_ok(),
                        instance=F.lit(None).cast("string"),
                    )
                )
        return checks


def compile_extensions(extensions, schema=None) -> list[CompiledCheck]:
    """Concat required + custom checks (ref apply_extensions,
    extensions.py:264-283) into compiled checks for the fused plan;
    already compiled checks pass through in place.

    ``schema`` (the target DataFrame's StructType) is needed whenever a
    RequiredCheck uses jsonpath targets — wildcard/union/descent paths
    expand against the physical schema."""
    out: list[CompiledCheck] = []
    for ext in extensions or ():
        if isinstance(ext, CompiledCheck):
            out.append(ext)
        elif hasattr(ext, "compile_all"):
            out.extend(ext.compile_all(schema))
        elif hasattr(ext, "compile"):
            out.append(ext.compile())
        else:
            raise ExtensionError(f"not an extension: {ext!r}")
    return out
