"""Auto-flatten nested XML DataFrames into a relational view.

spark-xml reads produce deeply nested rows (repeated elements ->
ArrayType, child elements -> StructType, attributes -> ``_attr`` struct
fields); virtually every downstream consumer hand-writes the same
``select("a.b.c").withColumn(explode(...))`` chains. ``flatten_xml``
mechanizes that: structs are promoted to ``parent<sep>child`` columns
and arrays are exploded (outer, so empty/NULL arrays keep their parent
row), repeating until the schema is flat.

Scale shape: pure projections + ``explode_outer`` — narrow, whole-stage
codegen, no shuffle, no UDF. Each array explode multiplies rows exactly
like the hand-written query would; flattening N sibling arrays is the
relational cross product of their elements per parent row, which is the
only faithful flat representation (documented; pass ``arrays="first"``
to explode just the outermost arrays one level per call instead).

No reference counterpart (users compose this by hand over
XmlRelation's rows); provided as the idiomatic-DataFrame equivalent of
the community flatten recipes.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _q(name: str) -> str:
    """``name`` as a SQL identifier: backquoted, a backquote doubled."""
    return "`" + name.replace("`", "``") + "`"


def _promote(cols: List[Tuple[str, T.DataType, str]], sep: str):
    """Promote struct fields to prefixed columns until none remain, in
    place of their struct. ``cols`` are (name, type, SQL expression)
    triples over the current DataFrame. Raises on an alias collision (e.g.
    existing column ``a_b`` next to struct ``a.b``) — silently emitting
    duplicate column names would break the first downstream select/write
    with an ambiguity error that doesn't point back here."""
    while any(isinstance(t, T.StructType) for _, t, _ in cols):
        out = []
        for name, t, expr in cols:
            if isinstance(t, T.StructType):
                out.extend(
                    (f"{name}{sep}{sub.name}", sub.dataType, f"{expr}.{_q(sub.name)}")
                    for sub in t.fields
                )
            else:
                out.append((name, t, expr))
        names = [n for n, _, _ in out]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(
                f"flatten_xml alias collision on {sorted(dupes)}: a promoted "
                f"struct field clashes with an existing column; pass a "
                f"different sep"
            )
        cols = out
    return cols


def flatten_xml(
    df: DataFrame,
    sep: str = "_",
    arrays: str = "all",
    max_depth: int = 32,
) -> DataFrame:
    """Flatten every StructType and ArrayType column of ``df``.

    ``arrays``: ``"all"`` (default) explodes arrays at every nesting
    level until none remain; ``"none"`` only promotes struct fields and
    leaves arrays as-is; ``"first"`` explodes EVERY array of the
    outermost level once, then continues flattening structs only
    (arrays surfaced from deeper levels stay arrays). ``explode_outer``
    keeps parents with empty/NULL arrays (their element columns become
    NULL) — the relational OUTER semantics a sink table wants.

    ``max_depth`` bounds ARRAY-NESTING depth (one iteration per level,
    however many sibling arrays the level holds); a deeper (adversarial)
    schema raises instead of looping. Struct promotion terminates on its
    own — each pass strictly reduces struct depth.

    The projections are derived from the schema on the driver: the
    DataFrame is analyzed once, struct promotions fold into the next
    projection, and each explode is one ``selectExpr`` of backquoted
    paths (Spark allows a single generator per projection) — one call
    into the JVM per projection, not one per leaf column.
    """
    if arrays not in ("all", "none", "first"):
        raise ValueError("arrays must be 'all', 'none' or 'first'")
    cols = [(f.name, f.dataType, _q(f.name)) for f in df.schema.fields]
    moved = False  # cols hold expressions not yet projected
    exploded_once = False
    for _ in range(max_depth):
        # promote structs until none remain at this level, so
        # array-of-struct explosions surface their fields before the
        # next level's explode
        promoted = _promote(cols, sep)
        moved = moved or promoted is not cols
        cols = promoted
        arrs = [n for n, t, _ in cols if isinstance(t, T.ArrayType)]
        if not arrs or arrays == "none" or (
            arrays == "first" and exploded_once
        ):
            if moved:
                df = df.selectExpr(*[f"{e} AS {_q(n)}" for n, _, e in cols])
            return df
        # one LEVEL: every current sibling array exploded exactly once,
        # one projection each; sibling arrays produce the relational
        # cross product per parent row
        for arr in arrs:
            df = df.selectExpr(*[
                f"explode_outer({e}) AS {_q(n)}" if n == arr else f"{e} AS {_q(n)}"
                for n, _, e in cols
            ])
            cols = [
                (n, t.elementType if n == arr else t, _q(n))
                for n, t, _ in cols
            ]
        moved = False
        exploded_once = True
    raise ValueError(
        f"array nesting deeper than {max_depth} levels"
    )
