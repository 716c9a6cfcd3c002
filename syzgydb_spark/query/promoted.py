"""Hot-path metadata promotion for SCHEMALESS collections.

A collection without a declared ``metadata_schema`` keeps the
reference's raw-JSON contract, and its filter evaluation rides the
variant compiler — correct, but interpreted (Spark's variant
expressions are CodegenFallback) and invisible to parquet row-group
pruning. ``Collection.promote_paths({"user.age": "double"})``
materializes chosen variant paths as plain typed columns at COMMIT
time; this module supplies the two expression builders:

* :func:`promoted_col` — the stored column expression. It reads the
  path exactly as the variant compiler would (``_ident_te`` → typed
  accessor), so the materialized value is NULL precisely when the
  filter language would see nil/type-mismatch/error — which is what
  makes the hint below sound.
* :func:`promoted_hint` — a conservative pushable shadow of a filter
  AST over the promoted columns, the schemaless sibling of
  ``typed.pushdown_hint``: every emitted conjunct is true whenever
  the Go evaluation of the filter is true, so it can be ANDed next
  to the exact variant predicate and pushed into the scan.

The exact predicate still runs (reference semantics are untouched);
promotion only changes WHERE the coarse filtering happens — inside
whole-stage codegen and parquet statistics instead of the variant
interpreter. This is the per-path version of declaring a full
``metadata_schema``: the long tail of cold paths stays schemaless.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

from syzgydb_spark import sqltext as S
from syzgydb_spark.query import parser as P
from syzgydb_spark.query.compiler import (
    CompileError,
    _case,
    _ident_te,
    _not,
    bind_root,
)
from syzgydb_spark.query.typed import HINT_OPS, combine_hints

PROMOTABLE_TYPES = ("double", "string", "boolean")

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def parse_path(path: str) -> list[str]:
    """Validate a promotable path: a plain dotted field chain (array
    indexes and wildcards are not promotable — their evaluation is
    positional, not a stored scalar)."""
    names = path.split(".")
    if not names or not all(_IDENT_RE.match(n) for n in names):
        raise CompileError(
            f"unpromotable path {path!r}: expected a dotted field chain "
            "like 'user.age'"
        )
    return names


def promoted_col(metadata: Column | str, path: str, dtype: str) -> Column:
    """The stored expression for a promoted path: the value AS THE
    FILTER LANGUAGE READS IT — typed when the stored JSON type
    matches, NULL on absent / type-mismatch / mid-path error — so a
    comparison against the materialized column is exactly the variant
    comparison."""
    if dtype not in PROMOTABLE_TYPES:
        raise CompileError(
            f"unpromotable type {dtype!r}: expected one of {PROMOTABLE_TYPES}"
        )
    segments = [("field", n) for n in parse_path(path)]

    def body(ref: str) -> str:
        te = _ident_te(f"try_parse_json({ref})", segments)
        val = {"double": te.dbl, "string": te.str_, "boolean": te.bool_}[dtype]()
        # error rows (unparseable metadata, non-object mid-path) read NULL
        return _case((_not(f"coalesce({te.err()}, true)"), val))

    return bind_root(metadata, body)


def _promoted_ref(node, mapping: dict):
    """(colname, type) when the node is an Ident over a promoted
    dotted field chain, else None."""
    if not isinstance(node, P.Ident):
        return None
    if any(s[0] != "field" for s in node.segments):
        return None
    return mapping.get(".".join(s[1] for s in node.segments))


def _lit_for(value, dtype: str) -> str | None:
    """Literal as a native operand when its type category matches the
    promoted type (type-strict Go semantics: a cross-type comparison
    is never true, so no hint operand is needed)."""
    if isinstance(value, bool):
        return S.literal(value) if dtype == "boolean" else None
    if isinstance(value, (int, float)):
        return S.double(value) if dtype == "double" else None
    if isinstance(value, str):
        return S.string(value) if dtype == "string" else None
    return None


def promoted_hint(node, mapping: dict) -> str | None:
    """Conservative pushable shadow of the filter AST over promoted
    physical columns, as SQL text. ``mapping``: dotted path → (column
    name, type). Same contract as ``typed.pushdown_hint``: AND the
    result next to the exact predicate; ``!=``/NOT/EXISTS contribute
    nothing (their Go-truth covers nil rows the columns read as NULL)."""

    def leaf(n) -> str | None:
        if isinstance(n, P.BinOp) and n.op in HINT_OPS:
            ref = _promoted_ref(n.left, mapping)
            if ref is None or not isinstance(n.right, P.Lit):
                return None
            colname, dtype = ref
            if n.op in ("CONTAINS", "STARTS_WITH", "ENDS_WITH") and dtype != "string":
                return None
            lit = _lit_for(n.right.value, dtype)
            if lit is None:
                return None
            return HINT_OPS[n.op].format(f=S.column(colname), v=lit)
        if isinstance(n, P.In) and not n.negated:
            ref = _promoted_ref(n.expr, mapping)
            if ref is None or not isinstance(n.array, P.ArrayLit):
                return None
            colname, dtype = ref
            lits = []
            for item in n.array.items:
                if not isinstance(item, P.Lit):
                    return None
                if item.value is None:
                    # tri-state nil==nil can be TRUE; IN never says
                    # true for NULL → no sound narrowing (typed.py parity)
                    return None
                nl = _lit_for(item.value, dtype)
                if nl is not None:
                    lits.append(nl)
            return f"({S.column(colname)} IN ({', '.join(lits)}))" if lits else "false"
        return None

    return combine_hints(node, leaf)
