"""Schema inference for CSV → SCBF conversion.

Two modes:

- ``infer_compat``: byte-for-byte parity with the reference's semantics
  (reference writer.py:12-26,41-54) — per column, the FIRST non-empty value
  decides the type (int32 → float64 → utf8 fallback); an all-empty column is
  utf8. No promotion/widening: a column inferred int32 whose later values
  don't parse as int raises, exactly as the reference crashes.
- ``infer_full``: saner Spark-style inference scanning ALL values — a column
  is int32 only if every non-empty value parses as int32-range int, float64
  if every value parses as float, else utf8. The CLI's default mode.

The list functions (``infer_full``, ``infer_compat``, ``parse_column``) are
the reference semantics and the fallback. ``cli csv_to_custom`` runs
their Arrow-column forms (``infer_full_arrow``, ``infer_compat_arrow``,
``parse_arrow``), which return the same type codes, values and errors
without a Python object per cell:

- a cell matching a plain ASCII integer or decimal grammar is converted by
  Arrow, which agrees with ``int()`` / ``float()`` bit for bit on that
  grammar (a leading ``+`` is stripped for the integer cast, which rejects
  it; the grammar check comes first because a bare cast reads ``"0x1f"``
  as 31 where ``int()`` raises);
- a column is utf8 as soon as one cell outside the grammar fails
  ``float()``, so a string column costs one Python call;
- any other column (``" 5"``, ``"1_0"``, ``"٣"``, ``inf``/``nan``
  spellings, empty cells in a numeric column) goes through the list
  functions.
"""

from __future__ import annotations

from typing import List, Sequence

from .codec import (
    INT32_MAX,
    INT32_MIN,
    TYPE_FLOAT64,
    TYPE_INT32,
    TYPE_UTF8,
    ScbfError,
    _int32_overflow,
)

#: what ``int()`` reads as the same value Arrow's int64 cast gives
_INT_GRAMMAR = r"^[+-]?[0-9]+$"
#: what ``float()`` reads as the same double Arrow's float64 cast gives
_FLOAT_GRAMMAR = r"^[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?$"


def infer_value_type(value: str) -> int:
    """Type of a single CSV cell: int wins over float wins over utf8."""
    try:
        int(value)
        return TYPE_INT32
    except ValueError:
        pass
    try:
        float(value)
        return TYPE_FLOAT64
    except ValueError:
        pass
    return TYPE_UTF8


def infer_compat(rows: Sequence[Sequence[str]], num_cols: int) -> List[int]:
    """First-non-empty-value inference (reference writer.py:41-54 semantics)."""
    types: List[int] = []
    for c in range(num_cols):
        code = TYPE_UTF8  # all-empty column defaults to utf8
        for row in rows:
            cell = row[c] if c < len(row) else ""
            if cell != "":
                code = infer_value_type(cell)
                break
        types.append(code)
    return types


def infer_full(rows: Sequence[Sequence[str]], num_cols: int) -> List[int]:
    """All-values inference with int32-range checking and float fallback."""
    types: List[int] = []
    for c in range(num_cols):
        saw_value = False
        is_int = True
        is_float = True
        for row in rows:
            cell = row[c] if c < len(row) else ""
            if cell == "":
                continue
            saw_value = True
            if is_int:
                try:
                    v = int(cell)
                    if not (INT32_MIN <= v <= INT32_MAX):
                        is_int = False
                except ValueError:
                    is_int = False
            if not is_int and is_float:
                try:
                    float(cell)
                except ValueError:
                    is_float = False
            if not is_int and not is_float:
                break
        if not saw_value:
            types.append(TYPE_UTF8)
        elif is_int:
            types.append(TYPE_INT32)
        elif is_float:
            types.append(TYPE_FLOAT64)
        else:
            types.append(TYPE_UTF8)
    return types


def parse_column(cells: Sequence[str], type_code: int):
    """Parse string cells to the inferred type; raises like the reference on
    unparseable cells (no nulls in SCBF v1 — empty numeric cell is an error,
    reference writer.py:84 ``int('')`` crash)."""
    if type_code == TYPE_INT32:
        try:
            return [int(c) for c in cells]
        except ValueError as e:
            raise ScbfError(f"cell not parseable as int32 (no nulls/promotion in SCBF v1): {e}")
    if type_code == TYPE_FLOAT64:
        try:
            return [float(c) for c in cells]
        except ValueError as e:
            raise ScbfError(f"cell not parseable as float64 (no nulls in SCBF v1): {e}")
    return list(cells)


# ---------------------------------------------------------------------------
# Arrow-column forms: one string column per CSV column, no nulls
# ---------------------------------------------------------------------------


def _first_miss(column, grammar: str) -> int:
    """Index of the first cell of ``column`` outside ``grammar``, or -1."""
    import pyarrow.compute as pc

    return pc.index(pc.match_substring_regex(column, grammar), False).as_py()


def _int64(column):
    """Arrow's int64 cast, after dropping a leading ``+`` (which the cast
    rejects); None when the cast fails. On integer-grammar cells it fails
    only on a value beyond int64."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pc.any(pc.starts_with(column, "+")).as_py():
        column = pc.replace_substring_regex(column, r"^\+", "")
    try:
        return pc.cast(column, pa.int64())
    except pa.ArrowInvalid:
        return None


def infer_compat_arrow(columns) -> List[int]:
    """``infer_compat`` over Arrow string columns: one Python call per
    column, on its first non-empty cell."""
    import pyarrow.compute as pc

    types: List[int] = []
    for col in columns:
        first = pc.index(pc.greater(pc.binary_length(col), 0), True).as_py()
        types.append(TYPE_UTF8 if first < 0 else infer_value_type(col[first].as_py()))
    return types


def _fails_float(cell: str) -> bool:
    try:
        float(cell)
    except ValueError:
        return True
    return False


def infer_full_arrow(columns) -> List[int]:
    """``infer_full`` over Arrow string columns."""
    import pyarrow.compute as pc

    types: List[int] = []
    for col in columns:
        length = pc.binary_length(col)
        if len(col) and pc.min(length).as_py() == 0:
            col = pc.filter(col, pc.greater(length, 0))
        if len(col) == 0:
            types.append(TYPE_UTF8)
            continue
        # A cell that fails float() fails int() too: the column is utf8.
        if _fails_float(col[0].as_py()):
            types.append(TYPE_UTF8)
            continue
        miss = _first_miss(col, _FLOAT_GRAMMAR)
        if miss >= 0:
            exotic = not _fails_float(col[miss].as_py())
            types.append(infer_full([(c,) for c in col.to_pylist()], 1)[0] if exotic else TYPE_UTF8)
            continue
        # All cells are decimals; the int64 cast fails on a fraction, an
        # exponent or a value beyond int64.
        ints = _int64(col)
        fits = ints is not None and (
            INT32_MIN <= pc.min(ints).as_py() and pc.max(ints).as_py() <= INT32_MAX
        )
        types.append(TYPE_INT32 if fits else TYPE_FLOAT64)
    return types


def parse_arrow(column, type_code: int):
    """``parse_column`` over an Arrow string column: int32 cells as int64
    (the writer range-checks them, as it does ``parse_column``'s ints),
    float64 cells as float64, utf8 cells as they are. Cells outside the
    plain grammars go through ``parse_column``, which raises its own
    ``ScbfError`` on an unparseable cell."""
    import pyarrow as pa

    if type_code == TYPE_UTF8:
        return column
    if type_code == TYPE_INT32:
        if _first_miss(column, _INT_GRAMMAR) < 0:
            ints = _int64(column)
            if ints is None:
                raise _int32_overflow()
            return ints
        arrow_type = pa.int64()
    else:
        if _first_miss(column, _FLOAT_GRAMMAR) < 0:
            return column.cast(pa.float64())
        arrow_type = pa.float64()
    try:
        return pa.array(parse_column(column.to_pylist(), type_code), type=arrow_type)
    except OverflowError:
        raise _int32_overflow() from None
