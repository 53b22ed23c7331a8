"""tools/transform_job.py — the tile-join-style transform CLI:
mvt dir -> filter + project -> MBTiles, checked end to end."""

from __future__ import annotations

import sys
from argparse import Namespace

from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V

sys.path.insert(0, "/root/repo/tools")

from test_mvt_fixtures import feat, layer, tile  # noqa: E402

import transform_job  # noqa: E402

POINT = [9, 50, 34]


def _tileset():
    def mk(cls_vals):
        roads = layer(
            name=b"roads",
            keys=[b"class", b"name"],
            values=[V.encode_value(V.VT_STRING, v) for v in cls_vals]
            + [V.encode_value(V.VT_STRING, "Main St")],
            feats=[feat(fid=i + 1, gtype=1, geom=POINT,
                        tags=[0, i, 1, len(cls_vals)])
                   for i in range(len(cls_vals))])
        return tile(roads)

    return {(5, 1, 1): mk(["street", "path"]),
            (5, 1, 2): mk(["path"]),
            (5, 2, 2): mk(["street"])}


def test_transform_mvt_to_mbtiles(spark, tmp_path):
    from vtzero_spark.engine import mbtiles

    src = tmp_path / "tiles"
    src.mkdir()
    for (z, x, y), buf in _tileset().items():
        (src / f"{z}-{x}-{y}.mvt").write_bytes(buf)

    out = tmp_path / "out.mbtiles"
    args = Namespace(
        inp=str(src), out=str(out), in_format=None, out_format=None,
        filter='["==", "class", "street"]', layer=None,
        keep=None, drop="name", rename="class:kind",
        keep_empty=False, name="t")
    summary = transform_job.run(spark, args)
    assert summary["tiles_in"] == 3
    assert summary["tiles_out"] == 2          # the path-only tile drops
    assert summary["bytes_out"] < summary["bytes_in"]

    got = {(r.z, r.x, r.y): bytes(r.tile_bytes)
           for r in mbtiles.read_mbtiles(spark, str(out)).collect()}
    assert set(got) == {(5, 1, 1), (5, 2, 2)}
    for buf in got.values():
        lys = T.parse_tile(buf)
        assert [ly.name for ly in lys] == ["roads"]
        ly = lys[0]
        assert ly.keys == [b"kind"]           # renamed, 'name' dropped
        assert len(ly.features) == 1
        assert V.decode_value(ly.values[ly.features[0].tags[1]])[1] \
            == "street"
