"""Workspace CLI: build/list/info/delete/import over named parquet
collections (the reference's `rasteret collections ...` surface,
`/root/reference/src/rasteret/cli.py`)."""

import io
import json

import pytest

from rasteret_spark import cli


@pytest.fixture()
def records_path(spark, images_pdf, tmp_path):
    p = str(tmp_path / "records")
    from rasteret_spark.collection import Collection

    Collection(spark, spark.createDataFrame(images_pdf)).export(p)
    return p


def _run(spark, *argv):
    out = io.StringIO()
    rc = cli.main(list(argv), spark=spark, out=out)
    return rc, out.getvalue()


def test_build_info_list_delete_roundtrip(spark, records_path, tmp_path):
    ws = str(tmp_path / "ws")
    rc, out = _run(
        spark, "collections", "build", "berlin", "--records", records_path,
        "--workspace", ws, "--json",
    )
    assert rc == 0
    built = json.loads(out)
    assert built["name"] == "berlin" and built["records"] == 60

    rc, out = _run(spark, "collections", "info", "berlin", "--workspace", ws, "--json")
    assert rc == 0 and json.loads(out)["records"] == 60

    rc, out = _run(spark, "collections", "list", "--workspace", ws, "--json")
    assert rc == 0 and [r["name"] for r in json.loads(out)] == ["berlin"]

    rc, _ = _run(spark, "collections", "delete", "berlin", "--workspace", ws)
    assert rc == 0
    rc, out = _run(spark, "collections", "list", "--workspace", ws, "--json")
    assert json.loads(out) == []


def test_build_with_bbox_narrows(spark, records_path, images_pdf, tmp_path):
    ws = str(tmp_path / "ws")
    im = images_pdf.iloc[0]
    bbox = f"{im['xmin']},{im['ymin']},{im['xmax']},{im['ymax']}"
    rc, out = _run(
        spark, "collections", "build", "sub", "--records", records_path,
        f"--bbox={bbox}", "--workspace", ws, "--json",
    )
    assert rc == 0
    n = json.loads(out)["records"]
    assert 0 < n < 60, "bbox build must narrow the collection"


def _stac_item(i: int) -> dict:
    x = 10.0 + 0.1 * i
    ring = [[x, 50.0], [x + 0.1, 50.0], [x + 0.1, 50.1], [x, 50.1], [x, 50.0]]
    return {
        "type": "Feature",
        "id": f"S2A_{i:04d}",
        "bbox": [x, 50.0, x + 0.1, 50.1],
        "geometry": {"type": "Polygon", "coordinates": [ring]},
        "properties": {
            "datetime": f"2023-0{6 + i}-01T10:30:00Z",
            "proj:epsg": 4326,
            "proj:transform": [0.001, 0.0, x, 0.0, -0.001, 50.1],
            "eo:cloud_cover": 5.0 * i,
        },
        "assets": {"B04": {"href": f"s3://bucket/scene{i}/B04.tif"}},
    }


def test_build_from_ndjson_stac_items(spark, tmp_path):
    """A ``.ndjson`` records path is a static catalog of STAC items: the
    built collection holds the rows ``Collection.from_stac_items`` gives."""
    from rasteret_spark.collection import Collection

    items = [_stac_item(i) for i in range(3)]
    src = tmp_path / "catalog.ndjson"
    src.write_text("".join(json.dumps(item) + "\n" for item in items))
    ws = str(tmp_path / "ws")
    rc, out = _run(
        spark, "collections", "build", "stac", "--records", str(src),
        "--workspace", ws, "--json",
    )
    assert rc == 0 and json.loads(out)["records"] == 3
    want = Collection.from_stac_items(spark, items).records
    got = spark.read.parquet(f"{ws}/stac").select(*want.columns)

    def rows(df):
        return [r.asDict(recursive=True) for r in df.orderBy("image_id").collect()]

    assert rows(got) == rows(want)


def test_info_missing_collection_fails_loudly(spark, tmp_path):
    rc, _ = _run(
        spark, "collections", "info", "nope", "--workspace", str(tmp_path / "ws")
    )
    assert rc == 2


def test_build_refuses_silent_overwrite(spark, records_path, tmp_path):
    ws = str(tmp_path / "ws")
    args = ["collections", "build", "c", "--records", records_path, "--workspace", ws]
    assert cli.main(args, spark=spark, out=io.StringIO()) == 0
    assert cli.main(args, spark=spark, out=io.StringIO()) == 2
    assert cli.main(args + ["--overwrite"], spark=spark, out=io.StringIO()) == 0


def test_import_copies_dataset(spark, records_path, tmp_path):
    ws = str(tmp_path / "ws")
    rc, out = _run(
        spark, "collections", "import", records_path, "imported",
        "--workspace", ws, "--json",
    )
    assert rc == 0 and json.loads(out)["records"] == 60


def test_collection_repr_is_lazy(spark, images_pdf):
    from rasteret_spark.collection import Collection

    c = Collection(spark, spark.createDataFrame(images_pdf))
    r = repr(c)
    assert r.startswith("Collection(lazy") and "image_id" in r


def test_invalid_collection_name_is_clean_error(spark, tmp_path):
    rc = cli.main(
        ["collections", "info", "../escape", "--workspace", str(tmp_path)],
        spark=spark, out=io.StringIO(),
    )
    assert rc == 2
