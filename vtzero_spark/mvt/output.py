"""Debug formatting for basic MVT types — the analog of the
reference's operator<< overloads (include/vtzero/output.hpp:26-60 and
the name tables in types.hpp:62-88): geometry-type and value-type
names, index / index-pair / point rendering. A plan-side label
expression is provided so decoded DataFrames can carry human-readable
type columns without a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# types.hpp:62-67
GEOM_TYPE_NAMES = ("unknown", "point", "linestring", "polygon")
# types.hpp:83-88 (index 0 renders empty)
PROPERTY_VALUE_TYPE_NAMES = (
    "", "string", "float", "double", "int", "uint", "sint", "bool")


def geom_type_name(gtype: int) -> str:
    if 0 <= gtype <= 3:
        return GEOM_TYPE_NAMES[gtype]
    return "unknown"


def property_value_type_name(vtype: int) -> str:
    if 1 <= vtype <= 7:
        return PROPERTY_VALUE_TYPE_NAMES[vtype]
    return ""


def format_index(idx: int | None) -> str:
    """index_value rendering: the value, or 'invalid' (output.hpp:40-46)."""
    return "invalid" if idx is None or idx < 0 else str(idx)


def format_index_pair(key_idx: int | None, val_idx: int | None) -> str:
    """index_value_pair rendering: '[k,v]' or 'invalid' (output.hpp:48-55)."""
    if key_idx is None or val_idx is None or key_idx < 0 or val_idx < 0:
        return "invalid"
    return f"[{key_idx},{val_idx}]"


def format_point(x: int, y: int) -> str:
    """point rendering: '(x,y)' (output.hpp:57-60)."""
    return f"({x},{y})"


def encode_geom_tokens(tokens: list[str]) -> tuple[list[int], list[str]]:
    """The vtzero-encode-geom CLI (examples/vtzero-encode-geom.cpp:
    36-80): tokens 'M <count>' / 'L <count>' / 'C' / integers become
    command integers / zigzag params; returns (command ints, the
    exact lines the example prints)."""
    cmds: list[int] = []
    lines: list[str] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t == "M" or t == "L":
            if i + 1 >= len(tokens) or not tokens[i + 1].lstrip("-").isdigit():
                raise ValueError(f"need count after {t} command")
            count = int(tokens[i + 1])
            if count <= 0:
                raise ValueError(f"count after {t} command must be 1 or larger")
            cmd_id = 1 if t == "M" else 2
            ci = (count << 3) | cmd_id
            name = "MOVE_TO" if t == "M" else "LINE_TO"
            lines.append(f"{name}({count})\t{ci}")
            cmds.append(ci)
            i += 2
        elif t == "C":
            ci = (0 << 3) | 7 | (1 << 3)  # ClosePath count=1
            lines.append(f"CLOSE_PATH\t{ci}")
            cmds.append(ci)
            i += 1
        else:
            num = int(t)
            zz = ((num << 1) ^ (num >> 31)) & 0xFFFFFFFF
            lines.append(f"number({num})\t{zz}")
            cmds.append(zz)
            i += 1
    return cmds, lines


def format_command_stream(cmds) -> list[str]:
    """Inverse debug dump: command integers -> the same line format
    (MOVE_TO(n)/LINE_TO(n)/CLOSE_PATH plus zigzag-decoded params)."""
    out: list[str] = []
    i = 0
    cmds = [int(c) for c in cmds]
    while i < len(cmds):
        ci = cmds[i]
        cmd_id, count = ci & 0x7, ci >> 3
        if cmd_id == 1 or cmd_id == 2:
            name = "MOVE_TO" if cmd_id == 1 else "LINE_TO"
            out.append(f"{name}({count})\t{ci}")
            for p in cmds[i + 1:i + 1 + 2 * count]:
                v = (p >> 1) ^ -(p & 1)
                out.append(f"number({v})\t{p}")
            i += 1 + 2 * count
        elif cmd_id == 7:
            out.append(f"CLOSE_PATH\t{ci}")
            i += 1
        else:
            out.append(f"unknown({cmd_id})\t{ci}")
            i += 1
    return out


def geom_type_label(col: Column | str) -> Column:
    """Plan-side geom-type label for decoded feature frames (pure
    Catalyst CASE, no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == 1, "point")
        .when(c == 2, "linestring")
        .when(c == 3, "polygon")
        .otherwise("unknown")
    )


def value_type_label(col: Column | str) -> Column:
    """Plan-side property-value-type label (for the `properties` map's
    vtype field)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(
        F.array(*[F.lit(n) for n in PROPERTY_VALUE_TYPE_NAMES]),
        F.when((c >= 1) & (c <= 7), c + 1).otherwise(1).cast("int"))
