"""Vector math over ``array<float>`` embedding columns, expressed with
JVM-side higher-order functions (``zip_with`` / ``aggregate`` / ``transform``)
so the hot path stays inside whole-stage codegen — no Python per-row cost.

Used by the similarity-search and embedding-dedup operators. A Pandas-UDF
matrix path exists in ``operators.similarity`` for per-bucket batch scoring
where BLAS beats codegen (wide top-k), but these are the default."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length numeric arrays (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def lit_vector(values) -> Column:
    """A literal query vector as an array<double> column.

    Built as ONE ``F.expr`` SQL string (r11): a 64-dim vector as 64
    ``F.lit`` calls costs ~100 ms of py4j round-trips per build; the parsed
    tree is identical. ``repr(float)`` round-trips IEEE doubles exactly and
    the ``D`` suffix forces DoubleType (bare decimal literals parse as
    DECIMAL in Spark SQL)."""
    vals = [float(v) for v in values]
    if not vals:
        return F.array().cast("array<double>")
    return F.expr(vector_sql(vals))


# --- SQL-string twins (r11) -------------------------------------------------
# Loop-built vector expressions (k dots against k literal centroids, a
# 16-projection array, an argmin over k fold distances) cost 50-200 py4j
# round-trips EACH when assembled Column-by-Column from Python; assembling
# the same expression as one SQL string and parsing it with a single
# ``F.expr`` call is 100-200× cheaper driver-side and yields the identical
# analyzed tree (same functions, same fold order — the oracle replay
# contract is unchanged). Operands are SQL fragments: a column name or the
# output of ``vector_sql``.


def _name_parts(name: str) -> list:
    """The parts of a column name as ``F.col`` reads it (Spark's
    ``UnresolvedAttribute.parseAttributeName``): dots separate nested
    fields, a backticked part is one part whatever it holds, and a doubled
    backtick inside one is a literal backtick. Raises ``ValueError`` where
    Spark raises a syntax error."""
    parts, cur, quoted, i = [], [], False, 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(f"syntax error in attribute name: {name!r}")
        elif ch == "`":
            if cur:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"syntax error in attribute name: {name!r}")
    parts.append("".join(cur))
    return parts


def ident_sql(name: str) -> str:
    """A column NAME as the SQL fragment ``F.col(name)`` resolves, for
    interpolation into the SQL-string fast paths: each dot-separated part
    backtick-quoted (backticks inside doubled, per Spark's identifier
    escaping), so ``features.emb`` still reaches the nested field while
    ``a-b`` or a name with spaces cannot parse as an expression
    (subtraction) the way it would through a bare f-string (ADVICE r11)."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in _name_parts(name))


def _double_sql(v: float) -> str:
    """One IEEE double as a SQL fragment. ``repr(v)+'D'`` round-trips every
    finite double exactly; non-finite values (NaN/inf can reach here through
    data-derived centroids or PQ LUTs) would render as unparseable ``nanD``/
    ``infD`` (ADVICE r11), so they map to the engine's literal spellings —
    the same values ``F.lit`` produces."""
    if v != v:
        return "cast('NaN' as double)"
    if v == float("inf"):
        return "cast('Infinity' as double)"
    if v == float("-inf"):
        return "cast('-Infinity' as double)"
    return f"{v!r}D"


def vector_sql(values) -> str:
    """The ``array(<doubles>)`` literal fragment for SQL-string builders."""
    vals = [float(v) for v in values]
    if not vals:
        return "cast(array() as array<double>)"
    return f"array({', '.join(_double_sql(v) for v in vals)})"


def dot_sql(a: str, b: str) -> str:
    """SQL twin of ``dot`` — identical cast/fold order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) *"
        f" cast(y as double)), 0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """SQL twin of ``norm``."""
    return (
        f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + cast(x as double) *"
        f" cast(x as double)))"
    )


def cosine_sql(a: str, b: str) -> str:
    """SQL twin of ``cosine`` — same ``dot/(norm*norm)`` tree."""
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"
