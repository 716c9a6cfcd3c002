"""SQL text for expressions that reach the JVM in one call.

A Column built node by node costs one py4j round trip per node: every
``F.*`` call, operator and literal. The same expression written as SQL
text costs one ``F.expr``, ``DataFrame.where`` or ``selectExpr`` call
and is parsed on the JVM. The helpers here render identifiers and
literals so that the text means what the Column form meant: Python
floats become DOUBLE literals whose shortest round-trip ``repr`` parses
back to the same double, Python ints become INT (BIGINT past 32 bits),
as ``F.lit`` types them.
"""

from __future__ import annotations

import math
from numbers import Integral, Real

_INT32 = 1 << 31


def ident(name: str) -> str:
    """One backquoted identifier part."""
    return "`" + name.replace("`", "``") + "`"


def column(name: str) -> str:
    """``F.col(name)`` as SQL text. The name is split the way ``F.col``
    splits it: on dots outside backquotes, with a doubled backquote
    standing for itself inside them."""
    parts, buf, quoted, i = [], [], False, 0
    while i < len(name):
        ch = name[i]
        if quoted and ch == "`" and name[i + 1 : i + 2] == "`":
            buf.append("`")
            i += 1
        elif ch == "`":
            quoted = not quoted
        elif ch == "." and not quoted:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return ".".join(ident(p) for p in parts)


def string(value: str) -> str:
    """A STRING literal. Text with a quote, a backslash or a ``${`` goes
    in as UTF-8 hex (``decode(X'…', 'UTF-8')``, folded to a literal by
    the optimizer), so neither ``spark.sql.parser.escapedStringLiterals``
    nor variable substitution can change its value."""
    if "'" in value or "\\" in value or "${" in value:
        return f"decode(X'{value.encode('utf-8').hex()}', 'UTF-8')"
    return f"'{value}'"


def double(value: float) -> str:
    """A DOUBLE literal holding exactly ``float(value)``."""
    v = float(value)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def literal(value) -> str:
    """``F.lit(value)`` as SQL text, for None, bool, int, float and str."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, Integral):
        v = int(value)
        return str(v) if -_INT32 <= v < _INT32 else f"{v}L"
    if isinstance(value, Real):
        return double(value)
    if isinstance(value, str):
        return string(value)
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def double_array(values) -> str:
    """An ARRAY<DOUBLE> literal of ``values``."""
    if not len(values):
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return f"array({', '.join(double(v) for v in values)})"
