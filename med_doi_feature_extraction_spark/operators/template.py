"""Row-level templated string projection (P2) + truncating preview (P22).

The reference renders per-record prompts by Jinja2-interpolating
``{{ var }}`` placeholders (plus a legacy ``{var}`` str.format pass)
over ``variables ∪ record.data`` (``src/services/prompt_builder.py:
27-40``; its shipped templates use interpolation only — no control
flow, ``config/prompts/doi_prompts.yaml``). Here the template compiles
ONCE at plan time into an ``F.concat`` of literal segments and column
references — whole-stage-codegen JVM string assembly, zero per-row
Python, constants folded as literals (SURVEY P2 disposition).

Name resolution: a placeholder found in ``variables`` is inlined as a
constant; anything else references a row column. (The reference gives
record fields precedence over variables; pass only non-record
variables to keep the same effective behavior.) Null columns render
as ``null_as`` (default "") instead of nulling the whole string.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_PLACEHOLDER_RE = re.compile(r"\{\{\s*(\w+)\s*\}\}|\{(\w+)\}")


def render_template(
    template: str,
    variables: dict | None = None,
    null_as: str = "",
) -> Column:
    """Compile a ``{{ var }}`` / ``{var}`` template into one Column."""
    try:
        template.encode("utf-8")
    except UnicodeEncodeError as exc:
        # lone surrogates cannot cross the py4j UTF-8 transport as a
        # literal — fail at compile time with an actionable message
        # instead of an opaque Py4JError mid-plan (hypothesis-found)
        raise ValueError(
            "template is not UTF-8 encodable (lone surrogate?): "
            f"{template!r}"
        ) from exc
    variables = variables or {}
    parts: list[Column] = []
    pos = 0
    for m in _PLACEHOLDER_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        name = m.group(1) or m.group(2)
        if name in variables:
            parts.append(F.lit(str(variables[name])))
        else:
            parts.append(
                F.coalesce(F.col(name).cast("string"), F.lit(null_as))
            )
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    # python-str.strip-style trim of ASCII whitespace (F.trim strips
    # spaces only; the reference's .strip() strips \t\n\r\f\v too).
    # \z, not $: Java's $ also matches before a final line terminator
    # such as \x85, which would strip whitespace in front of it
    return F.regexp_replace(
        F.concat(*parts), r"^[ \t\n\r\f\x0b]+|[ \t\n\r\f\x0b]+\z", ""
    )


def preview(col: Column | str, max_chars: int = 100, ellipsis: str = "...") -> Column:
    """P22: ``str[:n] + '...'`` display truncation (reference
    ``src/cli/helpers.py:432-438``)."""
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("string")
    return F.when(
        F.length(c) > max_chars,
        F.concat(F.substring(c, 1, max_chars), F.lit(ellipsis)),
    ).otherwise(c)
