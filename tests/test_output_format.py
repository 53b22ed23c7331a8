"""Debug formatting parity with the reference's operator<< overloads
(output.hpp:26-60, name tables types.hpp:62-88)."""

from __future__ import annotations

import pytest

from vtzero_spark.mvt import output as O


def test_geom_type_names():
    assert [O.geom_type_name(i) for i in range(4)] == [
        "unknown", "point", "linestring", "polygon"]
    assert O.geom_type_name(9) == "unknown"


def test_property_value_type_names():
    assert [O.property_value_type_name(i) for i in range(1, 8)] == [
        "string", "float", "double", "int", "uint", "sint", "bool"]
    assert O.property_value_type_name(0) == ""
    assert O.property_value_type_name(8) == ""


def test_index_and_point_rendering():
    assert O.format_index(7) == "7"
    assert O.format_index(None) == "invalid"
    assert O.format_index(-1) == "invalid"
    assert O.format_index_pair(1, 2) == "[1,2]"
    assert O.format_index_pair(None, 2) == "invalid"
    assert O.format_point(25, 17) == "(25,17)"


def test_encode_geom_tokens_matches_codec():
    """vtzero-encode-geom analog: 'M 1 25 17' produces the same
    command stream as the geometry encoder, with the example's exact
    line format (command_move_to(1)=9, zigzag(25)=50, zigzag(17)=34)."""
    import numpy as np

    from vtzero_spark.mvt import geometry as G

    cmds, lines = O.encode_geom_tokens(["M", "1", "25", "17"])
    assert cmds == G.encode_point(np.array([[25, 17]])).tolist()
    assert lines == ["MOVE_TO(1)\t9", "number(25)\t50", "number(17)\t34"]
    # linestring + close path; negative numbers zigzag correctly
    cmds2, lines2 = O.encode_geom_tokens(["L", "2", "-1", "0", "C"])
    assert lines2[0] == "LINE_TO(2)\t18"
    assert lines2[1] == "number(-1)\t1"
    assert lines2[-1] == "CLOSE_PATH\t15"
    with pytest.raises(ValueError):
        O.encode_geom_tokens(["M", "0"])
    with pytest.raises(ValueError):
        O.encode_geom_tokens(["M"])


def test_format_command_stream_roundtrip():
    cmds, _ = O.encode_geom_tokens(
        ["M", "1", "3", "4", "L", "2", "1", "0", "0", "2", "C"])
    dump = O.format_command_stream(cmds)
    assert dump[0] == "MOVE_TO(1)\t9"
    assert "LINE_TO(2)\t18" in dump
    assert dump[-1] == "CLOSE_PATH\t15"
    assert "number(3)\t6" in dump


def test_plan_side_labels(spark):
    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (7,)], "t int")
    got = df.select(O.geom_type_label("t").alias("g")).toPandas()["g"].tolist()
    assert got == ["unknown", "point", "linestring", "polygon", "unknown"]
    vt = spark.createDataFrame([(i,) for i in range(9)], "v int")
    lv = vt.select(O.value_type_label("v").alias("l")).toPandas()["l"].tolist()
    assert lv == ["", "string", "float", "double", "int", "uint",
                  "sint", "bool", ""]
