"""Compile filter-language ASTs to Spark SQL predicates.

The reference evaluates filters as per-row Go closures with tri-state
results: true / false / *error*, where an erroring row is excluded from
results (collection.go:204-218). We model "error" as SQL NULL and wrap
the final predicate in ``coalesce(pred, false)``.

Exact semantics reproduced (from /root/reference/query/compiler.go):

* top-level identifier on an object: missing key → **nil, no error**
  (getField, compiler.go:433-449; Go map access returns the zero value);
* nested ``.field`` access: missing key or non-object operand → error
  (evaluateOperation ".", compiler.go:222-245);
* ``.length`` on an *array* → its length; strings/objects are not
  special-cased by ``.`` (compiler.go:238-241); ``LENGTH(x)`` supports
  string/array/object (evaluateLength, compiler.go:364-375);
* ``[idx]``: non-array → error; out-of-bounds → nil, no error
  (compiler.go:246-262);
* ``==``/``!=``: reflect.DeepEqual — never errors, type mismatch is
  false, nil == nil is true (so ``absent == null`` holds);
* ``>``/``<``/...: numeric or string×string, anything else (incl. nil)
  → error (compareValues/toFloat64, compiler.go:268-322, 450-474);
* ``CONTAINS/STARTS_WITH/ENDS_WITH/MATCHES``: both operands must be
  strings, else error (compiler.go:393-431);
* AND evaluates both sides, OR short-circuits on a true left; either
  way a non-bool/errored operand → error (compiler.go:180-199);
* ``x EXISTS``: "evaluates without error" (compiler.go:335-340) — note
  the inherited quirk that a single-segment path on an object never
  errors, so top-level EXISTS is always true;
* ``x DOES NOT EXIST``: top-level key-membership only; non-identifier
  argument → error; non-object data → false (compiler.go:60-76).

Type strictness: Spark's ``try_variant_get(v, p, 'double')`` *coerces*
(e.g. string "3" → 3.0), which Go never does, so every typed accessor is
guarded by ``schema_of_variant``. All JSON numbers compare as doubles —
the reference decodes every number to float64 (parser.go:472-480).

The compiler renders SQL text: each TE accessor returns the text of a
Spark SQL expression, and the finished predicate reaches the JVM in
one call (``F.expr``, or ``DataFrame.where`` / ``selectExpr`` with a
string) instead of one py4j round trip per Column node. The predicate
runs JVM-side; no Python runs per row. Each AND/OR operand appears
once in the text, so its length grows linearly with the number of
conjuncts.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column
from pyspark.sql import functions as F

from syzgydb_spark import sqltext as S
from syzgydb_spark.query import parser as P
from syzgydb_spark.query.parser import parse

NULL_BOOL = "CAST(NULL AS BOOLEAN)"
_NULL_DOUBLE = "CAST(NULL AS DOUBLE)"
_NULL_STRING = "CAST(NULL AS STRING)"
_NUMERIC_RE = "^(TINYINT|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DECIMAL)"


class CompileError(ValueError):
    pass


# ---- SQL text combinators ---------------------------------------------
# Every result is self-delimiting. The literal operands "true"/"false"
# fold away with Kleene-exact identities (x OR false = x, x AND false =
# false, ...): statically-typed accessors hand back such constants, and
# folding them keeps the text, and the tree Spark analyzes, small.

def _or(*xs: str) -> str:
    if "true" in xs:
        return "true"
    xs = tuple(x for x in xs if x != "false")
    if not xs:
        return "false"
    return xs[0] if len(xs) == 1 else "(" + " OR ".join(xs) + ")"


def _and(*xs: str) -> str:
    if "false" in xs:
        return "false"
    xs = tuple(x for x in xs if x != "true")
    if not xs:
        return "true"
    return xs[0] if len(xs) == 1 else "(" + " AND ".join(xs) + ")"


def _not(x: str) -> str:
    return {"true": "false", "false": "true"}.get(x, f"(NOT {x})")


def _is_null(x: str) -> str:
    return "false" if x in ("true", "false") else f"({x} IS NULL)"


def _not_null(x: str) -> str:
    return f"({x} IS NOT NULL)"


def _false_if_null(x: str) -> str:
    return x if x in ("true", "false") else f"coalesce({x}, false)"


def _case(*branches: tuple[str, str], otherwise: str | None = None) -> str:
    """CASE WHEN c1 THEN v1 ... [ELSE otherwise] END (no ELSE = NULL);
    a branch whose condition is "false" is dropped."""
    branches = tuple((c, v) for c, v in branches if c != "false")
    if not branches:
        return otherwise if otherwise is not None else "NULL"
    whens = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    tail = f" ELSE {otherwise}" if otherwise is not None else ""
    return f"CASE {whens}{tail} END"


def _as_double(x: str) -> str:
    return f"CAST({x} AS DOUBLE)"


def _typeof_is_obj(t: str) -> str:
    return _false_if_null(f"rlike({t}, '^(OBJECT|STRUCT)')")


def _typeof_is_arr(t: str) -> str:
    return _false_if_null(f"startswith({t}, 'ARRAY')")


def _is_obj(v: str) -> str:
    return _typeof_is_obj(f"schema_of_variant({v})")


def _is_arr(v: str) -> str:
    return _typeof_is_arr(f"schema_of_variant({v})")


def _variant_get(v: str, path: str, type_: str) -> str:
    return f"try_variant_get({v}, {S.string(path)}, '{type_}')"


class TE:
    """Typed expression with Go-error tracking; every accessor returns
    SQL text.

    ``err()`` — evaluation would have errored in the reference.
    ``is_nil()`` — value is Go nil (JSON null or absent-without-error).
    Typed accessors return NULL unless the value is strictly that type.
    """

    def dbl(self) -> str:
        return _NULL_DOUBLE

    def str_(self) -> str:
        return _NULL_STRING

    def bool_(self) -> str:
        return NULL_BOOL

    def arr(self) -> str | None:
        return None

    def is_arr(self) -> str:
        return "false"

    def is_obj(self) -> str:
        return "false"

    def is_nil(self) -> str:
        return "false"

    def err(self) -> str:
        return "false"


class VariantTE(TE):
    """A variant value (array element or resolved sub-document).

    ``typeof`` lets a caller bind a pre-materialized
    ``schema_of_variant`` column (see ``where_filter``'s hoisting) —
    in interpreted mode every accessor reference re-evaluates its
    expression tree, so walking the full metadata variant per
    reference is the dominant cost on wide predicates."""

    def __init__(self, sub: str, err: str | None = None, typeof: str | None = None):
        self.sub = sub
        self._err = err if err is not None else "false"
        self._typeof = typeof if typeof is not None else f"schema_of_variant({sub})"

    def dbl(self) -> str:
        return _case(
            (f"rlike({self._typeof}, '{_NUMERIC_RE}')", _variant_get(self.sub, "$", "double"))
        )

    def str_(self) -> str:
        return _case((f"({self._typeof} = 'STRING')", _variant_get(self.sub, "$", "string")))

    def bool_(self) -> str:
        return _case((f"({self._typeof} = 'BOOLEAN')", _variant_get(self.sub, "$", "boolean")))

    def arr(self) -> str:
        return _variant_get(self.sub, "$", "array<variant>")

    def is_arr(self) -> str:
        return _is_arr(self.sub)

    def is_obj(self) -> str:
        return _is_obj(self.sub)

    def is_nil(self) -> str:
        return _or(
            _false_if_null(f"is_variant_null({self.sub})"),
            _and(_is_null(self.sub), _not(self._err)),
        )

    def err(self) -> str:
        return self._err


def _ident_te(root: str, segments) -> VariantTE:
    """Walk an ident path step by step, tracking where Go would error.

    root must be the parsed metadata variant (NULL = JSON unmarshal
    failure, which the reference surfaces as an error per row,
    compiler.go:477-484).
    """
    err = _is_null(root)
    cur = root
    for i, seg in enumerate(segments):
        if seg[0] == "field":
            name = seg[1]
            nxt = _variant_get(cur, f"$.{name}", "variant")
            if i == 0:
                # top-level getField: missing key is nil, not an error
                step_ok = _is_obj(cur)
            elif name == "length":
                # `.length` on an array yields its length (handled in
                # IdentTE.dbl); on an object it is a plain key lookup
                step_ok = _or(_is_arr(cur), _and(_is_obj(cur), _not_null(nxt)))
            else:
                step_ok = _and(_is_obj(cur), _not_null(nxt))
        elif seg[0] == "index":
            nxt = _variant_get(cur, f"$[{seg[1]}]", "variant")
            step_ok = _is_arr(cur)
        else:
            raise CompileError("[*] only allowed as the ANY/ALL array expression")
        err = _or(err, _not(_false_if_null(step_ok)))
        cur = nxt
    return VariantTE(cur, err)


class IdentTE(TE):
    def __init__(self, root: str, segments, env: dict | None = None):
        self.root = root
        self.segments = segments
        if env is not None and tuple(segments) in env:
            sub, typeof, err = env[tuple(segments)]
            self._v = VariantTE(sub, err, typeof)
        else:
            self._v = _ident_te(root, segments)
        self._len_parent: VariantTE | None = None
        if len(segments) > 1 and segments[-1] == ("field", "length"):
            par = tuple(segments[:-1])
            if env is not None and par in env:
                sub, typeof, err = env[par]
                self._len_parent = VariantTE(sub, err, typeof)
            else:
                self._len_parent = _ident_te(root, segments[:-1])

    @property
    def sub(self) -> str:
        return self._v.sub

    def _length_col(self) -> str:
        p = self._len_parent
        return _case((_and(p.is_arr(), _not(p.err())), _as_double(f"size({p.arr()})")))

    def dbl(self) -> str:
        base = self._v.dbl()
        if self._len_parent is None:
            return base
        return f"coalesce({self._length_col()}, {base})"

    def str_(self) -> str:
        return self._v.str_()

    def bool_(self) -> str:
        return self._v.bool_()

    def arr(self) -> str:
        return self._v.arr()

    def is_arr(self) -> str:
        return self._v.is_arr()

    def is_obj(self) -> str:
        return self._v.is_obj()

    def is_nil(self) -> str:
        nil = self._v.is_nil()
        if self._len_parent is not None:
            nil = _and(nil, _is_null(self._length_col()))
        return nil

    def err(self) -> str:
        e = self._v.err()
        if self._len_parent is not None:
            e = _and(e, _is_null(self._length_col()))
        return e

    def exists_(self) -> str:
        """True iff the path evaluates without error
        (reference compiler.go:335-340)."""
        return _not(self.err())


class LitTE(TE):
    def __init__(self, value):
        self.value = value

    def dbl(self) -> str:
        if isinstance(self.value, bool) or not isinstance(self.value, (int, float)):
            return super().dbl()
        return S.double(self.value)

    def str_(self) -> str:
        return S.string(self.value) if isinstance(self.value, str) else super().str_()

    def bool_(self) -> str:
        return S.literal(self.value) if isinstance(self.value, bool) else super().bool_()

    def is_nil(self) -> str:
        return S.literal(self.value is None)


class BoolTE(TE):
    """Result of a comparison/logic op: boolean where NULL = Go error."""

    def __init__(self, col: str):
        self.col = col

    def bool_(self) -> str:
        return self.col

    def err(self) -> str:
        return _is_null(self.col)


class NumTE(TE):
    """Result of LENGTH(): numeric where NULL = Go error."""

    def __init__(self, col: str):
        self.col = col

    def dbl(self) -> str:
        return self.col

    def err(self) -> str:
        return _is_null(self.col)


class ArrayLitTE(TE):
    def __init__(self, items: list[TE]):
        self.items = items

    def eq_variant_array(self, other: TE) -> str:
        arr = other.arr()
        conds = [other.is_arr(), f"(size({arr}) = {len(self.items)})"]
        for i, item in enumerate(self.items):
            elem = VariantTE(f"element_at({arr}, {i + 1})")
            conds.append(_strict_eq(elem, item))
        return _and(*conds)


def _strict_eq(a: TE, b: TE) -> str:
    """reflect.DeepEqual (compiler.go:174-177): type-strict equality;
    mismatched types are false, nil == nil is true, never errors."""
    # a statically-NULL accessor (the other type's) is never equal
    parts = [
        f"({x} = {y})"
        for x, y, null in (
            (a.dbl(), b.dbl(), _NULL_DOUBLE),
            (a.str_(), b.str_(), _NULL_STRING),
            (a.bool_(), b.bool_(), NULL_BOOL),
        )
        if null not in (x, y)
    ]
    parts.append(_and(a.is_nil(), b.is_nil()))
    arr_eq = _array_eq(a, b)
    if arr_eq is not None:
        parts.append(arr_eq)
    return _or(*(_false_if_null(p) for p in parts))


def _array_eq(a: TE, b: TE) -> str | None:
    # typed fast path: native deep equality / element-wise literal
    # comparison (query/typed.py TEs implement these hooks)
    if hasattr(a, "native_eq") and hasattr(b, "native_eq"):
        return a.native_eq(b)
    if hasattr(a, "native_eq") and isinstance(b, ArrayLitTE):
        return a.eq_array_lit(b)
    if hasattr(b, "native_eq") and isinstance(a, ArrayLitTE):
        return b.eq_array_lit(a)
    a_var = isinstance(a, (VariantTE, IdentTE))
    b_var = isinstance(b, (VariantTE, IdentTE))
    if a_var and b_var:
        # DeepEqual on arrays/objects: canonical JSON text comparison —
        # both sides rendered by the same engine, and variant
        # canonicalization folds lexical number variants ('1.0'→'1',
        # '2.50'→'2.5', '5e-1'→'0.5'), so numerically-equal numbers
        # compare equal like Go's decode-everything-to-float64.
        # KNOWN DEVIATION (narrow): scientific-notation INTEGERS parse
        # as double and render with a trailing '.0' ('1e2'→'100.0' vs
        # '100'), so [1e2] != [100] field-vs-field, where Go says
        # equal. Pinned by tests/test_filter_language.py::
        # test_array_eq_number_canonicalization.
        return _and(
            _or(_and(a.is_arr(), b.is_arr()), _and(a.is_obj(), b.is_obj())),
            f"(CAST({a.sub} AS STRING) = CAST({b.sub} AS STRING))",
        )
    if a_var and isinstance(b, ArrayLitTE):
        return b.eq_variant_array(a)
    if b_var and isinstance(a, ArrayLitTE):
        return a.eq_variant_array(b)
    return None


def _cmp(op: str, a: TE, b: TE) -> str:
    # numeric×numeric, else string×string, else (mixed types, nil)
    # NULL = error: the typed accessors are NULL off their type
    terms = [
        f"({x} {op} {y})"
        for x, y, null in ((a.dbl(), b.dbl(), _NULL_DOUBLE), (a.str_(), b.str_(), _NULL_STRING))
        if null not in (x, y)
    ]
    value = f"coalesce({', '.join(terms)})" if len(terms) > 1 else (terms or [NULL_BOOL])[0]
    return _case((_or(a.err(), b.err()), NULL_BOOL), otherwise=value)


_STRING_OPS = {
    "CONTAINS": "contains",
    "STARTS_WITH": "startswith",
    "ENDS_WITH": "endswith",
    "MATCHES": "regexp_like",  # Java regex ⊇ Go RE2 for our surface
}


def _string_op(op: str, a: TE, b: TE) -> str:
    # the string functions are NULL on a NULL (non-string) operand
    return _case(
        (_or(a.err(), b.err()), NULL_BOOL),
        otherwise=f"{_STRING_OPS[op]}({a.str_()}, {b.str_()})",
    )


class Compiler:
    """Filter AST → SQL text over a root expression (the parsed
    metadata variant, or a ``(text, DataType)`` pair in
    ``TypedCompiler``). ``env`` maps root-relative paths to hoisted
    ``(sub, typeof, err)`` texts (``where_filter``)."""

    def __init__(self, params: dict | None = None, env: dict | None = None, _names=None):
        self.params = params or {}
        self.env = env
        # lambda variable names for ANY/ALL, unique across nesting
        self._names = _names if _names is not None else itertools.count()

    def _lambda_var(self) -> str:
        return f"__syz_e{next(self._names)}"

    def _ident(self, root, segments) -> TE:
        """Identifier-path resolution — the typed fast path
        (query/typed.py) overrides this with static schema walking."""
        return IdentTE(root, segments, self.env)

    def compile(self, node: P.Node, root) -> TE:
        if isinstance(node, P.Lit):
            return LitTE(node.value)
        if isinstance(node, P.ArrayLit):
            return ArrayLitTE([self.compile(i, root) for i in node.items])
        if isinstance(node, P.Param):
            if node.name in self.params:
                return LitTE(self.params[node.name])
            # reference: parameters are looked up in the data map
            # (compiler.go:79-90) — fall back to a field lookup
            return self._ident(root, (("field", node.name),))
        if isinstance(node, P.Ident):
            return self._ident(root, node.segments)
        if isinstance(node, P.Length):
            return self._length(node, root)
        if isinstance(node, P.Not):
            # SQL NOT keeps NULL (= Go error) as NULL
            return BoolTE(_not(self.compile(node.expr, root).bool_()))
        if isinstance(node, P.BinOp):
            return self._binop(node, root)
        if isinstance(node, P.In):
            return self._in(node, root)
        if isinstance(node, P.Exists):
            return self._exists(node, root)
        if isinstance(node, P.AnyAll):
            return self._any_all(node, root)
        raise CompileError(f"cannot compile {node!r}")

    def _length(self, node: P.Length, root) -> TE:
        # LENGTH(x): string/array/object, else error (compiler.go:364-375)
        inner = self.compile(node.expr, root)
        branches = [(inner.err(), _NULL_DOUBLE)]
        arr_col = inner.arr()  # typed TEs return None for non-arrays
        if arr_col is not None:
            branches.append((inner.is_arr(), _as_double(f"size({arr_col})")))
        s = inner.str_()
        branches.append((_not_null(s), _as_double(f"length({s})")))
        if isinstance(inner, (VariantTE, IdentTE)):
            branches.append((
                inner.is_obj(),
                _as_double(f"size(json_object_keys(CAST({inner.sub} AS STRING)))"),
            ))
        elif hasattr(inner, "obj_length_col"):  # typed fast path
            obj_len = inner.obj_length_col()
            if obj_len is not None:
                branches.append((inner.is_obj(), obj_len))
        return NumTE(_case(*branches))

    def _binop(self, node: P.BinOp, root) -> TE:
        op = node.op
        if op in ("AND", "OR"):
            a = self.compile(node.left, root).bool_()
            b = self.compile(node.right, root).bool_()
            # each operand appears once in the text, so a chain of n
            # conjuncts renders in linear, not exponential, length
            if op == "AND":
                # both sides always evaluated; either error → error
                # (compiler.go:180-186) — SQL's AND would say false for
                # false AND NULL, the integer sum stays NULL
                return BoolTE(f"((CAST({a} AS INT) + CAST({b} AS INT)) = 2)")
            # OR short-circuits when left is true (compiler.go:188-199);
            # a NULL (erroring) left matches neither branch → NULL
            return BoolTE(f"CASE {a} WHEN true THEN true WHEN false THEN {b} END")
        a = self.compile(node.left, root)
        b = self.compile(node.right, root)
        if op == "==":
            return BoolTE(_case((_or(a.err(), b.err()), NULL_BOOL), otherwise=_strict_eq(a, b)))
        if op == "!=":
            return BoolTE(
                _case((_or(a.err(), b.err()), NULL_BOOL), otherwise=_not(_strict_eq(a, b)))
            )
        if op in ("<", "<=", ">", ">="):
            return BoolTE(_cmp(op, a, b))
        if op in _STRING_OPS:
            return BoolTE(_string_op(op, a, b))
        raise CompileError(f"unknown operator {op}")

    def _in(self, node: P.In, root) -> TE:
        expr = self.compile(node.expr, root)
        arr = self.compile(node.array, root)
        if not isinstance(arr, ArrayLitTE):
            raise CompileError("IN requires an array literal")
        hit = _or(*(_strict_eq(expr, item) for item in arr.items)) if arr.items else "false"
        if node.negated:
            hit = _not(hit)
        return BoolTE(_case((expr.err(), NULL_BOOL), otherwise=hit))

    def _exists(self, node: P.Exists, root) -> TE:
        expr = self.compile(node.expr, root)
        if not hasattr(expr, "exists_"):
            raise CompileError("EXISTS requires a field path")
        if not node.negated:
            return BoolTE(expr.exists_())
        # DOES NOT EXIST: top-level key membership only; non-identifier
        # argument is an error; non-object data → false
        # (compiler.go:60-76)
        if len(expr.segments) != 1:
            return BoolTE(NULL_BOOL)
        name = expr.segments[0][1]
        present = _not_null(_variant_get(root, f"$.{name}", "variant"))
        return BoolTE(_case(
            (_is_null(root), NULL_BOOL), (_is_obj(root), _not(present)), otherwise="false"
        ))

    def _any_all(self, node: P.AnyAll, root) -> TE:
        if not isinstance(node.array, P.Ident):
            raise CompileError("ANY/ALL require a field path array expression")
        segs = node.array.segments
        if segs[-1] == ("star",):
            segs = segs[:-1]
        arr_te = self._ident(root, segs)
        arr = arr_te.arr()

        # element scope compiles WITHOUT the hoist env: env maps
        # ROOT-relative paths to hoisted columns, and an element-scoped
        # ident that happens to share a root path's shape (ANY(items[*]
        # a > 5) with a root-scope `a` elsewhere in the filter) must
        # resolve against the lambda element, not the hoisted root
        # column. (TypedCompiler overrides _any_all; this is the
        # variant path only.)
        inner = Compiler(self.params, _names=self._names) if self.env is not None else self
        el = self._lambda_var()
        cond = inner.compile(node.cond, el).bool_()
        fn = "exists" if node.kind == "ANY" else "forall"
        return BoolTE(_case(
            (_and(arr_te.is_arr(), _not(arr_te.err())), f"{fn}({arr}, {el} -> {cond})"),
            otherwise=NULL_BOOL,
        ))


_ROOT_VAR = "__syz_root"


def bind_root(metadata: Column | str, body) -> Column:
    """The Column for ``body(root_text)`` — ``body`` renders SQL text
    over the root expression's text. A column NAME renders inline (one
    ``F.expr`` call); a Column has no SQL text, so it is bound as a
    lambda variable: ``transform(array(metadata), root -> body)[0]``."""
    if isinstance(metadata, str):
        return F.expr(body(S.column(metadata)))
    fn = F.expr(f"{_ROOT_VAR} -> {body(_ROOT_VAR)}")
    return F.call_function("transform", F.array(metadata), fn)[0]


def _tri_state(node, ref: str, params, metadata_is_json_string: bool) -> str:
    root = f"try_parse_json({ref})" if metadata_is_json_string else ref
    return Compiler(params).compile(node, root).bool_()


def filter_sql(query: str, metadata: str = "metadata", *, params: dict | None = None) -> str:
    """``compile_filter`` as SQL text, for ``DataFrame.where``: the
    row-keeping predicate of a filter string over the JSON-string
    column ``metadata``."""
    return _false_if_null(_tri_state(parse(query), S.column(metadata), params, True))


def compile_to_column(
    query: str,
    metadata: Column | str = "metadata",
    *,
    params: dict | None = None,
    metadata_is_json_string: bool = True,
) -> Column:
    """Compile a filter string to a tri-state boolean Column
    (NULL = the row would have errored in the reference)."""
    node = parse(query)
    return bind_root(
        metadata, lambda ref: _tri_state(node, ref, params, metadata_is_json_string)
    )


def compile_filter(
    query: str,
    metadata: Column | str = "metadata",
    *,
    params: dict | None = None,
    metadata_is_json_string: bool = True,
) -> Column:
    """Compile a filter string to a row-keeping predicate.

    Rows whose evaluation would error in the reference are excluded
    (collection.go:210-217): NULL → false.
    """
    node = parse(query)
    return bind_root(
        metadata,
        lambda ref: _false_if_null(_tri_state(node, ref, params, metadata_is_json_string)),
    )


def _collect_root_paths(node, params: dict) -> set[tuple]:
    """Ident paths referenced at metadata-root scope (ANY/ALL condition
    idents are element-scoped and excluded; the ANY/ALL *array* path is
    root-scoped and included)."""
    out: set[tuple] = set()

    def walk(n, root_scope: bool):
        if isinstance(n, P.Ident):
            if root_scope and not any(s[0] == "star" for s in n.segments):
                out.add(tuple(n.segments))
        elif isinstance(n, P.Param):
            if root_scope and n.name not in params:
                out.add((("field", n.name),))
        elif isinstance(n, P.BinOp):
            walk(n.left, root_scope)
            walk(n.right, root_scope)
        elif isinstance(n, (P.Not, P.Length)):
            walk(n.expr, root_scope)
        elif isinstance(n, P.In):
            walk(n.expr, root_scope)
        elif isinstance(n, P.Exists):
            walk(n.expr, root_scope)
        elif isinstance(n, P.AnyAll):
            segs = n.array.segments
            if segs[-1] == ("star",):
                segs = segs[:-1]
            # a MID-path star survives the trailing strip; hoisting it
            # would crash — leave it out and let compile raise the
            # proper CompileError('[*] only allowed as the ANY/ALL
            # array expression')
            if root_scope and not any(s[0] == "star" for s in segs):
                out.add(tuple(segs))
            walk(n.cond, False)

    walk(node, True)
    return out


def where_filter(df, query: str, metadata: str = "metadata", *, params: dict | None = None):
    """Apply a filter-language predicate with every per-row-expensive
    piece hoisted into real columns.

    In interpreted mode (variant expressions don't join whole-stage
    codegen) each reference in the predicate tree re-evaluates its
    whole subtree, so a predicate that mentions a field five times
    would re-parse and re-walk the metadata variant five times per
    row. Hoisting materializes, per row: the parsed variant, one
    sub-variant column per referenced path prefix, and its
    schema_of_variant — the boolean tree then runs over cheap
    attribute references (~4x on JSON-heavy scans).

    Small inputs (fewer partitions than half the cores) are
    repartitioned first: the predicate is CPU-heavy relative to a
    shuffle of a small table, and a single-file scan would otherwise
    pin the whole evaluation to one core. Real multi-file tables at
    scale already have enough splits and skip this."""
    params = params or {}
    if not df.isStreaming:
        try:
            from syzgydb_spark.session import scan_splits_estimate

            parallelism = df.sparkSession.sparkContext.defaultParallelism
            splits = scan_splits_estimate(df, enough=parallelism // 2)
            if splits is not None and splits < parallelism // 2:
                df = df.repartition(parallelism)
        except Exception:
            pass  # plan shapes that can't answer the file listing cheaply

    node = parse(query)
    paths = _collect_root_paths(node, params)
    prefixes = sorted(
        {p[:i] for p in paths for i in range(1, len(p) + 1)}, key=len
    )

    # One projection per path depth: depth d's sub-variants read depth
    # d-1's columns, and depth d-1's schema_of_variant columns ride in
    # the same projection (they read only their own sub-variant).
    vcol = "__syz_v"
    root = S.ident(vcol)
    temp_cols = [vcol]
    stages: list[list[str]] = [[f"try_parse_json({S.column(metadata)}) AS {root}"]]
    sub_ref: dict[tuple, str] = {(): root}
    typeof_ref: dict[tuple, str] = {(): f"schema_of_variant({root})"}  # root: evaluated rarely
    err_expr: dict[tuple, str] = {(): _is_null(root)}

    for idx, pref in enumerate(prefixes):
        parent, seg = pref[:-1], pref[-1]
        step = f"$.{seg[1]}" if seg[0] == "field" else f"$[{seg[1]}]"
        scol, tcol = f"__syz_s{idx}", f"__syz_t{idx}"
        while len(stages) <= len(pref) + 1:
            stages.append([])
        stages[len(pref)].append(
            f"{_variant_get(sub_ref[parent], step, 'variant')} AS {S.ident(scol)}"
        )
        stages[len(pref) + 1].append(f"schema_of_variant({S.ident(scol)}) AS {S.ident(tcol)}")
        temp_cols += [scol, tcol]
        sub_ref[pref] = S.ident(scol)
        typeof_ref[pref] = S.ident(tcol)

        par_t = typeof_ref[parent]
        if seg[0] == "index":
            step_ok = _typeof_is_arr(par_t)
        elif len(pref) == 1:
            step_ok = _typeof_is_obj(par_t)  # top-level getField never errors on objects
        elif seg == ("field", "length"):
            step_ok = _or(
                _typeof_is_arr(par_t), _and(_typeof_is_obj(par_t), _not_null(S.ident(scol)))
            )
        else:
            step_ok = _and(_typeof_is_obj(par_t), _not_null(S.ident(scol)))
        err_expr[pref] = _or(err_expr[parent], _not(_false_if_null(step_ok)))

    env = {
        pref: (sub_ref[pref], typeof_ref[pref], err_expr[pref]) for pref in prefixes
    }
    pred = Compiler(params, env).compile(node, root).bool_()
    # Pushdown barrier: PushPredicateThroughNonJoin only pushes a
    # filter through a Project whose fields are all deterministic, so
    # a rand() column in the hoist projection — referenced by the
    # predicate so ColumnPruning keeps it — pins the filter above the
    # hoisted columns. Without it the optimizer substitutes every
    # hoisted alias back into the predicate and re-evaluates each
    # variant extraction per reference (~4-5x slower, measured). The
    # predicate could never reach the parquet scan anyway: it is over
    # a computed variant column. This leans on Spark 4.x optimizer
    # behavior (PushPredicateThroughNonJoin's determinism check);
    # tests/test_search_plan.py asserts the hoisted projection
    # survives optimization, so an optimizer change fails loudly.
    nd = "__syz_nd"
    stages[-1].append(f"rand(42) AS {S.ident(nd)}")
    temp_cols.append(nd)
    out = df
    for stage in stages:
        if stage:
            out = out.selectExpr("*", *stage)
    # rand ∈ [0,1) so the comparison is always true, but unlike
    # isnotnull(rand()) it is not constant-foldable, so the barrier
    # and the attribute reference both survive optimization
    keep = _case(
        (f"({S.ident(nd)} >= -1.0D)", _false_if_null(pred)), otherwise="false"
    )
    return out.where(keep).drop(*temp_cols)
