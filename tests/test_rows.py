"""The row-stage helper (operators/rows.map_rows) and the fail-soft OCR
page helpers (operators/media_ocr.recognize_fail_soft / ocr_pages).

map_rows owns the mapInPandas batch protocol for every per-row stage,
so these tests pin its contract directly: fan-out shapes, tuple and
dict rows, empty partitions, one plan node.  The page helpers own the
OCR error contract the scanned-PDF, rendered-PDF and scan-format
stages share: a page-source failure is one page_idx-null row, a page
failure isolates to its row (P1), and a preprocess failure falls back
to the original image (F5)."""

from pyspark.sql.types import StructType

from mcp_ocr_server_spark.config import FIXTURE_JOB
from mcp_ocr_server_spark.imaging.font import render_text
from mcp_ocr_server_spark.ocr.engine import get_engine
from mcp_ocr_server_spark.operators import media_ocr as M
from mcp_ocr_server_spark.operators.rows import map_rows

IMG = render_text("HELLO WORLD", scale=3)


def test_map_rows_fan_out_with_tuple_rows(spark):
    def fan(j):
        # 1:0, 1:1 and 1:2 by id, as tuples in schema order
        return [(j, k) for k in range(j % 3)]

    df = map_rows(spark.range(0, 9, numPartitions=3), fan,
                  "j long, k int", "id")
    assert df.columns == ["j", "k"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (j, k) for j in range(9) for k in range(j % 3)
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan


def test_map_rows_dict_rows_missing_key_null_extra_key_dropped(spark):
    src = spark.createDataFrame([("a", b"xy", 1), ("b", b"", 2)],
                                "ref string, data binary, unused int")
    df = map_rows(
        src,
        lambda ref, data: [dict(ref=ref, n=len(data), extra="dropped")],
        "ref string, n int, note string", "ref", "data",
    )
    assert [r.asDict() for r in df.orderBy("ref").collect()] == [
        dict(ref="a", n=2, note=None), dict(ref="b", n=0, note=None),
    ]


def test_map_rows_empty_partitions_keep_the_declared_schema(spark):
    schema = "id long, tag string"
    # 2 ids over 4 partitions: at least two partitions are empty
    sparse = map_rows(spark.range(0, 2, numPartitions=4),
                      lambda j: [(j, "x")], schema, "id")
    assert sorted(tuple(r) for r in sparse.collect()) == [(0, "x"), (1, "x")]
    for df in (
        map_rows(spark.range(0, 0, numPartitions=2),
                 lambda j: [(j, "x")], schema, "id"),
        map_rows(spark.range(0, 5, numPartitions=2),
                 lambda j: [], schema, "id"),
    ):
        assert df.collect() == []
        assert df.schema == StructType.fromDDL(schema)


def test_ocr_pages_page_source_error_is_one_null_page_row():
    def load():
        raise ValueError("not a scan")

    assert M.ocr_pages("r", load, FIXTURE_JOB) == [dict(
        media_ref="r", page_idx=None, text=None, confidence=None,
        error="not a scan",
    )]


def test_ocr_pages_isolates_a_raising_page():
    def prepare(img):
        if img is None:
            raise ValueError("bad page")
        return img

    rows = M.ocr_pages("r", lambda: [IMG, None, IMG], FIXTURE_JOB,
                       prepare=prepare)
    assert [r["page_idx"] for r in rows] == [0, 1, 2]
    assert rows[1] == dict(media_ref="r", page_idx=1, text=None,
                           confidence=None, error="bad page")
    assert rows[0] == rows[2] | dict(page_idx=0)
    assert rows[0]["error"] is None and rows[0]["text"] == "HELLO WORLD"


def test_preprocess_failure_recognizes_the_original_image(monkeypatch):
    calls = []

    def broken_preprocess(img, cfg, deadline=None):
        calls.append(img)
        raise RuntimeError("preprocess broke")

    monkeypatch.setattr(M, "preprocess", broken_preprocess)
    seen = []
    assert M.recognize_fail_soft(
        IMG, FIXTURE_JOB, lambda img: seen.append(img) or "ok") == "ok"
    assert seen == [IMG] and seen[0] is IMG and calls[0] is IMG

    res = get_engine(FIXTURE_JOB.ocr).recognize(IMG)
    assert M.ocr_pages("r", lambda: [IMG], FIXTURE_JOB) == [dict(
        media_ref="r", page_idx=0, text=res.text,
        confidence=round(res.confidence, 6), error=None,
    )]
    assert len(calls) == 2
