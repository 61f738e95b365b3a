"""SQL-text building blocks for plan construction.

A Column expression built in Python costs py4j round trips per node:
every ``F.*`` call, literal, alias and lambda variable is created on the
JVM one message at a time. A SQL-text expression is sent as one string
and parsed on the JVM side, so its build cost does not grow with its
size. The screen pipeline builds each stage's projection from these
strings (``F.expr`` / ``withColumns`` / ``selectExpr``).
"""

from __future__ import annotations

from typing import Any


def ident(name: str) -> str:
    """Backtick-quoted column name (any characters, including backticks)."""
    return "`" + name.replace("`", "``") + "`"


def lit(value: Any) -> str:
    """SQL literal with the type ``F.lit(value)`` would give it: int → INT
    (BIGINT beyond int32, as the parser does; a bool reads as BOOLEAN),
    float → DOUBLE, str → STRING.

    Floats carry the ``D`` suffix: a bare ``1.5`` parses as DECIMAL.
    """
    if isinstance(value, float):
        return f"{value!r}D"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def lit_list(values) -> str:
    """Comma-separated literals, for ``IN (...)`` and ``array(...)``."""
    return ", ".join(lit(v) for v in values)
