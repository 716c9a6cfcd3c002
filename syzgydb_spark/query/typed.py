"""Typed-column fast path for the filter language.

The variant path (query/compiler.py) works on schemaless JSON —
faithful to the reference, but variant accessors are CodegenFallback
upstream, so wide predicates run interpreted. When the metadata schema
IS known (struct/map columns — e.g. a collection ingested with an
enforced schema, or relational columns packed into a struct), this
module compiles the same filter AST to plain struct-field accessors:
the whole predicate participates in whole-stage codegen and pushes
down to the parquet scan.

Ident paths resolve against the static schema at COMPILE time:

* top-level key absent from the schema → Go nil, no error
  (compiler.go:433-449);
* nested ``.field`` through a non-struct or absent field → constant
  error (row dropped), matching the reference's data-dependent error
  on the schema'd corpus;
* nested access through a NULL struct → per-row error (``.`` on nil,
  compiler.go:222-245);
* ``[idx]`` uses ``F.get`` (0-based, out-of-bounds → nil, no error —
  compiler.go:246-262); indexing a non-array type → constant error;
* ``.length`` on arrays, ``LENGTH()`` on string/array/map/struct;
* map columns keep real key-membership semantics
  (``map_contains_key``).

DOCUMENTED DEVIATION (inherent to typed rows): a struct row cannot
distinguish an absent key from a null value — every schema field exists
on every row. ``a EXISTS`` / ``a DOES NOT EXIST`` on struct fields
therefore resolve statically from the schema, and a key that was absent
in the source JSON reads as null. Map columns don't have this
limitation. The conformance suite runs against this path with those
cases excluded (tests/test_filter_typed.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from syzgydb_spark import sqltext as S
from syzgydb_spark.query import parser as P
from syzgydb_spark.query.compiler import (
    NULL_BOOL,
    ArrayLitTE,
    BoolTE,
    Compiler,
    CompileError,
    TE,
    _and,
    _as_double,
    _case,
    _false_if_null,
    _is_null,
    _not,
    _not_null,
    _or,
    _strict_eq,
    bind_root,
)
from syzgydb_spark.query.parser import parse

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _is_obj_type(dt) -> bool:
    return isinstance(dt, (T.StructType, T.MapType))


def _struct_field(cur: str, name: str) -> str:
    """``cur[name]`` (``Column.__getitem__``) on a struct. The analyzer
    needs the key as a literal, so it is written the way Spark renders
    a string literal: quote and backslash backslash-escaped."""
    key = name.replace("\\", "\\\\").replace("'", "\\'")
    return f"{cur}['{key}']"


class TypedTE(TE):
    """A value with a statically-known Spark type.

    ``err`` carries the per-row Go-error condition accumulated during
    path resolution; type mismatches are known at compile time, so the
    typed accessors are constants or plain column casts — all codegen.
    """

    def __init__(self, col: str | None, dtype, err: str | None = None):
        self.col = col          # None ⇔ statically nil (absent top-level key)
        self.dtype = dtype
        self._err = err if err is not None else "false"

    def dbl(self) -> str:
        if self.col is not None and isinstance(self.dtype, _NUMERIC):
            return _as_double(self.col)
        return super().dbl()

    def str_(self) -> str:
        if self.col is not None and isinstance(self.dtype, T.StringType):
            return self.col
        return super().str_()

    def bool_(self) -> str:
        if self.col is not None and isinstance(self.dtype, T.BooleanType):
            return self.col
        return super().bool_()

    def arr(self) -> str | None:
        return self.col if isinstance(self.dtype, T.ArrayType) else None

    def is_arr(self) -> str:
        if self.col is None or not isinstance(self.dtype, T.ArrayType):
            return "false"
        return _not_null(self.col)

    def is_obj(self) -> str:
        if self.col is None or not _is_obj_type(self.dtype):
            return "false"
        return _not_null(self.col)

    def is_nil(self) -> str:
        if self.col is None:
            return _not(self._err)
        return _and(_is_null(self.col), _not(self._err))

    def err(self) -> str:
        return self._err

    def exists_(self) -> str:
        """Path evaluates without error (compiler.go:335-340)."""
        return _not(self._err)

    # -- hooks consumed by compiler._array_eq / _length --
    def native_eq(self, other: "TypedTE") -> str | None:
        """DeepEqual on typed arrays/structs/maps: Spark native
        equality when the static types are compatible; statically
        false otherwise (type-strict, like reflect.DeepEqual)."""
        if self.col is None or other.col is None:
            return None  # nil==nil handled by the is_nil parts
        a_deep = isinstance(self.dtype, (T.ArrayType, T.StructType, T.MapType))
        b_deep = isinstance(other.dtype, (T.ArrayType, T.StructType, T.MapType))
        if not (a_deep and b_deep):
            return None
        # compare on type SHAPE: DataType.__eq__ includes nullability /
        # containsNull metadata, so structurally identical arrays with
        # different inferred nullability would wrongly report false
        if self.dtype.simpleString() == other.dtype.simpleString():
            return f"({self.col} = {other.col})"
        # numeric arrays of different widths compare numerically
        # (Go decodes every number to float64)
        if (
            isinstance(self.dtype, T.ArrayType)
            and isinstance(other.dtype, T.ArrayType)
            and isinstance(self.dtype.elementType, _NUMERIC)
            and isinstance(other.dtype.elementType, _NUMERIC)
        ):
            return f"(CAST({self.col} AS ARRAY<DOUBLE>) = CAST({other.col} AS ARRAY<DOUBLE>))"
        return "false"

    def eq_array_lit(self, lit: ArrayLitTE) -> str:
        if self.col is None or not isinstance(self.dtype, T.ArrayType):
            return "false"
        et = self.dtype.elementType
        conds = [_not_null(self.col), f"(size({self.col}) = {len(lit.items)})"]
        for i, item in enumerate(lit.items):
            conds.append(_strict_eq(TypedTE(f"get({self.col}, {i})", et), item))
        return _and(*conds)

    def obj_length_col(self) -> str | None:
        """LENGTH() of a map/struct (key count)."""
        if self.col is None:
            return None
        if isinstance(self.dtype, T.MapType):
            return _as_double(f"size(map_keys({self.col}))")
        if isinstance(self.dtype, T.StructType):
            return S.double(len(self.dtype.fields))
        return None


def _resolve(col: str, dtype, segments) -> TypedTE:
    """Static schema walk tracking where Go would error per row."""
    err = "false"
    cur, cur_t = col, dtype
    for i, seg in enumerate(segments):
        if seg[0] == "field":
            name = seg[1]
            if (
                name == "length"
                and i > 0
                and isinstance(cur_t, T.ArrayType)
            ):
                # `.length` of an array (compiler.go:238-241); arrays
                # can't be stepped into further
                if i != len(segments) - 1:
                    return TypedTE(None, T.NullType(), "true")
                return TypedTE(
                    _as_double(f"size({cur})"), T.DoubleType(), _or(err, _is_null(cur))
                )
            if isinstance(cur_t, T.StructType):
                if name in cur_t.fieldNames():
                    if i > 0:
                        err = _or(err, _is_null(cur))  # "." on nil → error
                    cur = _struct_field(cur, name)
                    cur_t = cur_t[name].dataType
                elif i == 0:
                    # top-level missing key: nil, no error
                    return TypedTE(None, T.NullType(), "false")
                else:
                    return TypedTE(None, T.NullType(), "true")
            elif isinstance(cur_t, T.MapType) and isinstance(cur_t.keyType, T.StringType):
                present = _false_if_null(f"map_contains_key({cur}, {S.string(name)})")
                if i > 0:
                    err = _or(err, _is_null(cur), _not(present))
                cur = f"try_element_at({cur}, {S.string(name)})"
                cur_t = cur_t.valueType
            else:
                # "." on a non-object: top level never errors (nil),
                # nested errors (compiler.go:222-245, 433-449)
                return TypedTE(None, T.NullType(), S.literal(i > 0))
        elif seg[0] == "index":
            if isinstance(cur_t, T.ArrayType):
                err = _or(err, _is_null(cur))
                cur = f"get({cur}, {int(seg[1])})"  # OOB → nil, no error
                cur_t = cur_t.elementType
            else:
                return TypedTE(None, T.NullType(), "true")
        else:
            raise CompileError("[*] only allowed as the ANY/ALL array expression")
    return TypedTE(cur, cur_t, err)


class TypedCompiler(Compiler):
    """Compiles against a (column, static-DataType) root instead of a
    variant column — roots are passed as ``(text, dtype)`` tuples."""

    def _ident(self, root, segments) -> TE:
        col, dtype = root
        return _resolve(col, dtype, segments)

    def _exists(self, node: P.Exists, root) -> TE:
        expr = self.compile(node.expr, root)
        if not hasattr(expr, "exists_"):
            raise CompileError("EXISTS requires a field path")
        if not node.negated:
            return BoolTE(expr.exists_())
        # DOES NOT EXIST: top-level key membership (compiler.go:60-76)
        if not isinstance(node.expr, P.Ident) or len(node.expr.segments) != 1:
            return BoolTE(NULL_BOOL)
        name = node.expr.segments[0][1]
        col, dtype = root
        if isinstance(dtype, T.StructType):
            # schema-complete rows: membership is static (see module
            # docstring for the absent-vs-null caveat)
            return BoolTE(S.literal(name not in dtype.fieldNames()))
        if isinstance(dtype, T.MapType):
            return BoolTE(_not(_false_if_null(f"map_contains_key({col}, {S.string(name)})")))
        return BoolTE("false")

    def _any_all(self, node: P.AnyAll, root) -> TE:
        if not isinstance(node.array, P.Ident):
            raise CompileError("ANY/ALL require a field path array expression")
        segs = node.array.segments
        if segs[-1] == ("star",):
            segs = segs[:-1]
        arr_te = self._ident(root, segs)
        arr = arr_te.arr()
        if arr is None:
            return BoolTE(NULL_BOOL)
        el = self._lambda_var()
        cond = self.compile(node.cond, (el, arr_te.dtype.elementType)).bool_()
        fn = "exists" if node.kind == "ANY" else "forall"
        return BoolTE(_case(
            (_and(arr_te.is_arr(), _not(arr_te.err())), f"{fn}({arr}, {el} -> {cond})"),
            otherwise=NULL_BOOL,
        ))


def typed_filter_sql(query: str, root: str, dtype, *, params: dict | None = None) -> str:
    """Row-keeping SQL predicate of a filter string over the typed
    metadata expression ``root`` (SQL text): rows whose evaluation
    would error in the reference are excluded (NULL→false). A NULL
    metadata root is a per-row error like the variant path's
    unparsable JSON (the reference drops such rows) — without the
    guard a NULL map/struct root would evaluate as an empty document."""
    pred = TypedCompiler(params).compile(parse(query), (root, dtype)).bool_()
    return _and(_false_if_null(pred), _not_null(root))


def compile_to_column_typed(
    query: str,
    metadata: Column | str,
    dtype,
    *,
    params: dict | None = None,
) -> Column:
    """Compile a filter string against a statically-typed metadata
    column to a tri-state boolean Column (NULL = Go error)."""
    node = parse(query)
    return bind_root(
        metadata, lambda ref: TypedCompiler(params).compile(node, (ref, dtype)).bool_()
    )


def compile_filter_typed(
    query: str,
    metadata: Column | str,
    dtype,
    *,
    params: dict | None = None,
) -> Column:
    """Row-keeping predicate over a typed metadata column
    (:func:`typed_filter_sql` as a Column). The result is a plain
    codegen-friendly boolean expression — pushdown-eligible, no variant
    machinery."""
    return bind_root(metadata, lambda ref: typed_filter_sql(query, ref, dtype, params=params))


def _field_path(node, col: str, dtype):
    """(text, leaf type) for a pure struct-field path, else None."""
    if not isinstance(node, P.Ident):
        return None
    cur, cur_t = col, dtype
    for seg in node.segments:
        if seg[0] != "field" or not isinstance(cur_t, T.StructType):
            return None
        if seg[1] not in cur_t.fieldNames():
            return None
        cur = _struct_field(cur, seg[1])
        cur_t = cur_t[seg[1]].dataType
    return cur, cur_t


def _native_lit(value, ftype) -> str | None:
    """Literal as a native comparison operand when its type category
    matches the field's (Go's type-strict semantics make cross-type
    comparisons false/error → no shadow needed)."""
    if isinstance(value, bool):
        return S.literal(value) if isinstance(ftype, T.BooleanType) else None
    if isinstance(value, (int, float)):
        return S.literal(value) if isinstance(ftype, _NUMERIC) else None
    if isinstance(value, str):
        return S.literal(value) if isinstance(ftype, T.StringType) else None
    return None


#: filter-language comparison → SQL template over (field, literal)
HINT_OPS = {
    "==": "({f} = {v})",
    "<": "({f} < {v})",
    "<=": "({f} <= {v})",
    ">": "({f} > {v})",
    ">=": "({f} >= {v})",
    "CONTAINS": "contains({f}, {v})",
    "STARTS_WITH": "startswith({f}, {v})",
    "ENDS_WITH": "endswith({f}, {v})",
}


def combine_hints(node, hint_of) -> str | None:
    """The AND/OR skeleton every pushdown shadow shares: an AND keeps
    whichever sides have a hint, an OR needs both; ``hint_of`` supplies
    the leaves."""
    if isinstance(node, P.BinOp) and node.op in ("AND", "OR"):
        l = combine_hints(node.left, hint_of)
        r = combine_hints(node.right, hint_of)
        if l is not None and r is not None:
            return _and(l, r) if node.op == "AND" else _or(l, r)
        return (l if l is not None else r) if node.op == "AND" else None
    return hint_of(node)


def pushdown_hint(node, col: str, dtype) -> str | None:
    """A CONSERVATIVE pushable approximation of the filter, as SQL text
    over the struct expression ``col``: a plain Catalyst predicate
    implied by "the Go evaluation returns true". ANDed next to the
    exact tri-state predicate it lets simple comparisons reach the
    parquet scan (row-group pruning), which the CASE-WHEN
    error-tracking form cannot. Soundness: every emitted conjunct is
    true whenever the Go result is true (type-strict ops are only true
    on matching non-nil operands). ``!=``/NOT/EXISTS contribute
    nothing (their Go-truth covers nil/mismatch rows)."""

    def leaf(n) -> str | None:
        if isinstance(n, P.BinOp) and n.op in HINT_OPS:
            f = _field_path(n.left, col, dtype)
            if f is None or not isinstance(n.right, P.Lit):
                return None
            lit = _native_lit(n.right.value, f[1])
            return None if lit is None else HINT_OPS[n.op].format(f=f[0], v=lit)
        if isinstance(n, P.In) and not n.negated:
            f = _field_path(n.expr, col, dtype)
            if f is None or not isinstance(n.array, P.ArrayLit):
                return None
            fcol, ftype = f
            lits = []
            for item in n.array.items:
                if not isinstance(item, P.Lit):
                    return None
                if item.value is None:
                    # a null in the list can match a nil/absent field
                    # (tri-state nil==nil is TRUE); IN can never say
                    # true for NULL, so no sound narrowing exists — emit
                    # no hint rather than an unsound false/IN
                    return None
                nl = _native_lit(item.value, ftype)
                if nl is not None:
                    lits.append(nl)
            # no same-type non-null literal in the list ⇒ Go can never say true
            return f"({fcol} IN ({', '.join(lits)}))" if lits else "false"
        return None

    return combine_hints(node, leaf)


def where_filter_typed(
    df: DataFrame, query: str, metadata: str = "metadata", *, params: dict | None = None
) -> DataFrame:
    """``where_filter`` for struct/map metadata columns. No hoisting is
    needed: struct accessors are cheap named-field reads inside
    whole-stage codegen (the variant path hoists because its accessors
    are interpreted). A conservative shadow of the predicate
    (pushdown_hint) is applied alongside so pushable conjuncts reach
    the parquet scan."""
    dtype = df.schema[metadata].dataType
    if not _is_obj_type(dtype):
        raise CompileError(
            f"column {metadata!r} is {dtype.simpleString()}, not struct/map — "
            "use query.compiler.where_filter for JSON-string/variant metadata"
        )
    root = S.column(metadata)
    pred = typed_filter_sql(query, root, dtype, params=params)
    hint = (
        pushdown_hint(parse(query), root, dtype)
        if isinstance(dtype, T.StructType)
        else None
    )
    out = df.where(hint) if hint is not None else df
    return out.where(pred)
