"""Source/sink round-trips (SURVEY §2 A1-A3, A18-A19, B26)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etlbigdata_spark.engine import Engine
from etlbigdata_spark.functions.multimodal import (
    attach_media_meta,
    extract_media_features,
)
from etlbigdata_spark.plans.audit import scan_rows, walk
from etlbigdata_spark.sources import readers, writers


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark=spark)


def _sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b,with,commas", -2.0), (3, None, 0.0)],
        "k long, s string, v double",
    )


def test_parquet_roundtrip(engine, tmp_path):
    df = _sample(engine.spark)
    path = str(tmp_path / "t.parquet")
    writers.write_parquet(df, path)
    back = engine.load_parquet(path, name="rt_parquet")
    assert back.schema == df.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_parquet_partitioned_write_prunes(engine, tmp_path):
    df = engine.spark.range(100).withColumn("part", (F.col("id") % 4).cast("int"))
    path = str(tmp_path / "part.parquet")
    writers.write_parquet(df, path, partition_by=["part"])
    back = readers.read_parquet(engine.spark, path).filter(F.col("part") == 2)
    filters = [n.meta.get("PartitionFilters", "") for n in walk(back)]
    assert back.count() == 25
    assert any(f.startswith("[isnotnull(part") for f in filters)  # partition pruning reached the scan


def test_csv_roundtrip_rfc4180(engine, tmp_path):
    """A19 — commas/nulls survive (the ref's RDD text sink would not:
    simple_etl.py:384 joins with ',' unquoted)."""
    df = _sample(engine.spark)
    path = str(tmp_path / "t.csv")
    writers.write_csv(df, path)
    back = readers.read_csv(engine.spark, path, schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_csv_all_strings_fallback(engine, tmp_path):
    df = _sample(engine.spark)
    path = str(tmp_path / "s.csv")
    writers.write_csv(df, path)
    back = readers.read_csv(engine.spark, path, all_strings=True)
    assert all(t == "string" for _, t in back.dtypes)  # ref's dirty-data mode (simple_etl.py:168-169)


def test_csv_from_memory_buffer(engine):
    """A1 upload-buffer parity — the reference's st.file_uploader hands a
    file-like object (simple_etl.py:62-70); read_csv accepts BytesIO and
    raw bytes, parsing driver-side (upload-sized by definition)."""
    import io

    raw = b"a,b\n1,x\n2,y\n"
    back = readers.read_csv(engine.spark, io.BytesIO(raw))
    assert back.columns == ["a", "b"]
    assert back.count() == 2
    # raw bytes too, and all_strings coercion applies in buffer mode
    back2 = readers.read_csv(engine.spark, raw, all_strings=True)
    assert all(t == "string" for _, t in back2.dtypes)
    assert {tuple(r) for r in back2.collect()} == {("1", "x"), ("2", "y")}


def _make_xlsx(rows, sheet="Sheet1"):
    """Minimal valid .xlsx built with stdlib zipfile + hand-written
    SpreadsheetML (inline strings, no shared-string table) so the Excel
    tests run with or without openpyxl. openpyxl reads this file fine
    when present, so the same fixture exercises whichever parse path
    read_excel selects."""
    import io
    import zipfile

    from xml.sax.saxutils import escape

    def cell(r, c, v):
        ref = f"{chr(ord('A') + c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>'

    rows_xml = "".join(
        f'<row r="{i + 1}">' + "".join(cell(i, j, v) for j, v in enumerate(row)) + "</row>"
        for i, row in enumerate(rows)
    )
    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    ct = "http://schemas.openxmlformats.org/package/2006/content-types"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            f'<Types xmlns="{ct}">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            f'<Relationships xmlns="{pkg_rel}">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{main}" xmlns:r="{rel}"><sheets>'
            f'<sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{pkg_rel}">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{main}"><sheetData>{rows_xml}</sheetData></worksheet>',
        )
    return buf.getvalue()


def test_excel_from_memory_buffer(engine):
    raw = _make_xlsx([["a", "b"], [1, "x"], [2, "y"]])
    back = readers.read_excel(engine.spark, raw)
    assert back.count() == 2 and back.columns == ["a", "b"]
    got = {(r.a, r.b) for r in back.collect()}
    assert got == {(1, "x"), (2, "y")}


def test_excel_stdlib_parser_types_and_sheets(engine):
    """The no-openpyxl fallback parser directly: numbers, strings,
    booleans, empty cells, sheet selection by name, and error paths."""
    raw = _make_xlsx([["n", "s", "flag"], [1.5, "hello", True], [2, None, False]])
    rows = readers._read_xlsx_stdlib(raw)
    assert rows == [["n", "s", "flag"], [1.5, "hello", True], [2, None, False]]
    assert readers._read_xlsx_stdlib(raw, sheet_name="Sheet1") == rows
    with pytest.raises(ValueError, match="not found"):
        readers._read_xlsx_stdlib(raw, sheet_name="nope")
    with pytest.raises(ValueError, match="out of range"):
        readers._read_xlsx_stdlib(raw, sheet_name=3)


def test_json_roundtrip(engine, tmp_path):
    df = _sample(engine.spark)
    path = str(tmp_path / "t.json")
    writers.write_json(df, path)
    back = readers.read_json(engine.spark, path, schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_excel_reader_from_path(engine, tmp_path):
    path = str(tmp_path / "t.xlsx")
    with open(path, "wb") as f:
        f.write(_make_xlsx([["a", "b"], [1, "x"], [2, "y"]]))
    back = readers.read_excel(engine.spark, path)
    assert back.count() == 2


def test_excel_openpyxl_path(engine):
    """The fancy-feature path: when openpyxl is installed, read_excel
    routes through pd.read_excel with its full option surface."""
    pd = pytest.importorskip("pandas")
    pytest.importorskip("openpyxl")
    import io

    buf = io.BytesIO()
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_excel(buf, index=False)
    back = readers.read_excel(engine.spark, io.BytesIO(buf.getvalue()))
    assert back.count() == 2 and back.columns == ["a", "b"]


def test_jdbc_roundtrip_derby(engine, tmp_path):
    """A4/A5/A20 executed for real: embedded Derby ships on Spark's
    classpath, so the JDBC sink → partitioned JDBC scan → catalog
    discovery path runs end-to-end in-process (no external DB needed).
    The MySQL path the reference used is the same code modulo URL."""
    url = f"jdbc:derby:{tmp_path}/jdbc_db;create=true"
    df = engine.spark.range(100).selectExpr("id", "id * 2 AS v")
    writers.write_jdbc(df, url, "t1")

    back = readers.read_jdbc(engine.spark, url, "t1")
    assert back.count() == 100

    part = readers.read_jdbc(
        engine.spark, url, "t1",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert part.count() == 100
    assert part.rdd.getNumPartitions() == 4  # A5's parallel-scan contract

    assert readers.list_jdbc_tables(engine.spark, url) == ["T1"]


def test_binary_files_and_media_meta(engine, tmp_path):
    """B26 — binaryFile ingestion + typed metadata struct."""
    (tmp_path / "m").mkdir()
    (tmp_path / "m" / "a.bin").write_bytes(b"hello world")
    (tmp_path / "m" / "b.bin").write_bytes(b"\x00\x01\x02")
    df = readers.read_binary_files(engine.spark, str(tmp_path / "m"), glob="*.bin")
    meta = attach_media_meta(df, "content", uri_col="path", media_type="application/test")
    rows = {r["media_meta"]["n_bytes"] for r in meta.select("media_meta").collect()}
    assert rows == {11, 3}
    one = meta.filter(F.col("media_meta.n_bytes") == 11).select("media_meta.checksum").collect()[0][0]
    import hashlib

    assert one == hashlib.md5(b"hello world").hexdigest()


def test_media_feature_plumbing(engine, tmp_path):
    """B26 — Arrow-batched featurizer: one FEATURE_SCHEMA row per blob,
    PPM and BMP images sniffed and decoded in the same batch."""
    import numpy as np

    from etlbigdata_spark.functions import codecs

    img = np.full((3, 5, 3), 9, dtype=np.uint8)
    df = engine.spark.createDataFrame(
        [("k1", bytearray(codecs.encode_ppm(img))), ("k2", bytearray(codecs.encode_bmp(img)))],
        "key string, blob binary",
    )
    out = extract_media_features(df, "key", "blob")
    rows = {r["key"]: r for r in out.collect()}
    assert set(rows) == {"k1", "k2"}
    assert len(rows["k1"]["feature"]) == 8
    assert rows["k1"]["n_frames"] == 1
    assert rows["k1"]["feature"] == rows["k2"]["feature"]


def test_ppm_strict_decode_is_real(engine):
    """B26 round-4: the default featurizer is the REAL numpy PPM codec —
    true dimensions and pixel-statistic features, no stub in the loop."""
    import numpy as np

    from etlbigdata_spark.functions import codecs

    img = np.zeros((6, 8, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # solid red channel
    img[:, :, 1] = 50
    df = engine.spark.createDataFrame(
        [("p1", bytearray(codecs.encode_ppm(img)))], "key string, blob binary"
    )
    rows = extract_media_features(df, "key", "blob").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"]) == (8, 6)
    feat = r["feature"]
    assert abs(feat[0] - 200.0) < 1e-6 and abs(feat[1] - 50.0) < 1e-6 and abs(feat[2]) < 1e-6
    assert abs(feat[6] - 8 / 6) < 1e-6  # aspect ratio


def test_ppm_strict_rejects_non_ppm(engine):
    """The default codecs must FAIL on undecodable bytes, not fake
    features, frames or resized media."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    from etlbigdata_spark.functions.multimodal import resize_media, sample_frames

    df = engine.spark.createDataFrame([("k", bytearray(b"not an image"))], "key string, blob binary")
    for out in (
        extract_media_features(df, "key", "blob"),
        sample_frames(df, "key", "blob", n_frames=2),
        resize_media(df, "key", "blob", width=2, height=2),
    ):
        with pytest.raises((PySparkException, Py4JJavaError), match="ValueError"):
            out.collect()


def test_frame_sampling_fans_out(engine):
    """B26 — one media row → n_frames (key, frame_idx, frame) rows; a
    test-local extractor plugged in through ``extract_fn`` slices the
    blob so the byte plumbing is checkable."""
    from etlbigdata_spark.functions.multimodal import sample_frames

    def slice_frames(blob: bytes, n_frames: int) -> list[bytes]:
        step = max(len(blob) // n_frames, 1)
        return [blob[i * step : (i + 1) * step] for i in range(n_frames)]

    df = engine.spark.createDataFrame(
        [("v1", bytearray(b"0123456789ab")), ("v2", bytearray(b"xy"))],
        "key string, blob binary",
    )
    out = sample_frames(df, "key", "blob", n_frames=4, extract_fn=slice_frames).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["key"], []).append(r)
    assert {k: len(v) for k, v in by_key.items()} == {"v1": 4, "v2": 4}
    v1 = sorted(by_key["v1"], key=lambda r: r["frame_idx"])
    assert bytes(v1[0]["frame"]) == b"012" and bytes(v1[3]["frame"]) == b"9ab"


def test_ppm_stream_frame_sampling_is_real(engine):
    """B26 round-4: default frame sampling splits a REAL concatenated-P6
    stream and returns standalone decodable frames, evenly spaced."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import sample_frames

    frames = [np.full((2, 2, 3), i * 40, dtype=np.uint8) for i in range(5)]
    stream = b"".join(codecs.encode_ppm(f) for f in frames)
    df = engine.spark.createDataFrame([("vid", bytearray(stream))], "key string, blob binary")
    out = sorted(
        sample_frames(df, "key", "blob", n_frames=3).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert len(out) == 3
    # evenly spaced over 5 frames → indices 0, 2, 4 → fill values 0, 80, 160
    picked = [int(codecs.decode_ppm(bytes(r["frame"]))[0, 0, 0]) for r in out]
    assert picked == [0, 80, 160]


def test_resize_media_rewraps_meta(engine):
    """B26 — binary→binary transform re-wrapped with the metadata
    struct: output is a width×height PPM, checksum/meta recomputed."""
    import hashlib

    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import resize_media

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    df = engine.spark.createDataFrame(
        [("i1", bytearray(codecs.encode_ppm(img)))], "key string, blob binary"
    )
    out = resize_media(df, "key", "blob", width=4, height=3).collect()
    assert len(out) == 1
    r = out[0]
    media = bytes(r["media"])
    assert codecs.decode_ppm(media).shape == (3, 4, 3)
    assert len(media) == len(b"P6\n4 3\n255\n") + 4 * 3 * 3
    assert r["media_meta"]["n_bytes"] == len(media)
    assert r["media_meta"]["checksum"] == hashlib.md5(media).hexdigest()
    assert r["media_meta"]["media_type"] == "application/x-resized"


def test_ppm_strict_resize_is_real(engine):
    """B26 round-4: default resize = decode → nearest-neighbor resample →
    re-encode through the REAL PPM codec; output decodes to the target
    dims with pixels drawn from the source."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import resize_media

    # left half red, right half blue, 4x8 → downsample to 2x4 keeps halves
    img = np.zeros((4, 8, 3), dtype=np.uint8)
    img[:, :4, 0] = 255
    img[:, 4:, 2] = 255
    df = engine.spark.createDataFrame(
        [("i1", bytearray(codecs.encode_ppm(img)))], "key string, blob binary"
    )
    out = resize_media(df, "key", "blob", width=4, height=2).collect()
    resized = codecs.decode_ppm(bytes(out[0]["media"]))
    assert resized.shape == (2, 4, 3)
    assert (resized[:, :2] == [255, 0, 0]).all() and (resized[:, 2:] == [0, 0, 255]).all()


def test_parquet_clustered_write_has_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """A18 cluster_by: range-partition + sort before write → each file
    covers a disjoint key range, so parquet min/max stats prune whole
    files for selective key predicates (the 100 TB layout lever)."""
    import glob

    import pyarrow.parquet as pq

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    out = str(tmp_path / "clustered")
    writers.write_parquet(
        li.repartition(8), out, cluster_by=["l_orderkey"], cluster_partitions=6
    )

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        t = pq.read_table(f, columns=["l_orderkey"])
        col = t.column("l_orderkey").to_pylist()
        if col:
            ranges.append((min(col), max(col)))
    assert len(ranges) > 1, "need multiple files for the disjointness claim"
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        # repartitionByRange gives disjoint ranges (boundary keys may touch)
        assert hi_a <= lo_b, f"overlapping file ranges: ({lo_a},{hi_a}) vs ({lo_b},..)"
    # and the data survives intact
    assert spark.read.parquet(out).count() == li.count()


def _parquet_bloom_offsets(spark, file_path):
    """Per-column bloom-filter footer offsets via parquet-mr (pyarrow
    16 doesn't expose them): {col_dotstring: offset}, -1 = no bloom."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(file_path)
    inp = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jpath, spark._jsc.hadoopConfiguration()
    )
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inp)
    try:
        out = {}
        blocks = rdr.getFooter().getBlocks()
        for bi in range(blocks.size()):
            cols = blocks.get(bi).getColumns()
            for ci in range(cols.size()):
                cc = cols.get(ci)
                name = cc.getPath().toDotString()
                out[name] = max(out.get(name, -1), cc.getBloomFilterOffset())
        return out
    finally:
        rdr.close()


def test_parquet_bloom_filter_written_and_skips_row_groups(spark, tmp_path):
    """A18 bloom filters — the POINT-LOOKUP complement to cluster_by/
    z-order: on a high-cardinality unsorted key where min/max stats
    can't skip (probe value inside every range), the bloom-enabled file
    answers an absent-key equality lookup without the scan emitting a
    single row, while the control file scans everything.  Footer
    evidence: bloom offset present for exactly the requested column."""
    n = 200_000
    # bijective UNSORTED scatter over the evens (77777 coprime to n):
    # sorted keys would let the page-level column index skip most pages
    # in the control too, hiding what the bloom contributes
    df = (
        spark.range(n)
        .selectExpr(f"(id * 77777) % {n} * 2 as k", "id % 7 as v")
        .repartition(1)
    )
    control = str(tmp_path / "control")
    bloomed = str(tmp_path / "bloomed")
    # dictionary off in BOTH: dictionary pages would themselves skip,
    # masking what the bloom contributes
    writers.write_parquet(df, control, **{"parquet.enable.dictionary": "false"})
    writers.write_parquet(
        df,
        bloomed,
        bloom_filter_cols=["k"],
        bloom_filter_ndv=n,
        **{"parquet.enable.dictionary": "false"},
    )

    import glob

    cfile = glob.glob(f"{control}/part-*.parquet")[0]
    bfile = glob.glob(f"{bloomed}/part-*.parquet")[0]
    assert _parquet_bloom_offsets(spark, cfile)["k"] == -1
    boffs = _parquet_bloom_offsets(spark, bfile)
    assert boffs["k"] > 0, "requested column must carry a bloom filter"
    assert boffs["v"] == -1, "unrequested column must not"

    # absent odd key, strictly inside [0, 2n) so stats can never skip
    probe = n + 1
    # rows EMITTED by the file scan (after row-group/page skipping,
    # before the Filter): the scan's numOutputRows once the query ran
    control_q = spark.read.parquet(control).filter(F.col("k") == probe)
    bloom_q = spark.read.parquet(bloomed).filter(F.col("k") == probe)
    assert control_q.collect() == bloom_q.collect() == []
    assert scan_rows(control_q) == n, "control: stats can't skip, full scan expected"
    assert scan_rows(bloom_q) == 0, "bloom: every row group skipped for the absent key"
    # present key still found (no false negatives by construction)
    assert spark.read.parquet(bloomed).filter(F.col("k") == 4).count() == 1


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """A3/A18 sibling: ORC roundtrip preserves data, and a selective
    filter reaches the ORC scan as a pushed search argument."""
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_orc")
    writers.write_orc(src, out)
    back = readers.read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    q = back.filter(back.n_nationkey == 3).select("n_name")
    q.collect()
    assert any("n_nationkey" in n.meta.get("PushedFilters", "") for n in walk(q))


def test_text_reader_lines_and_whole_files(spark, tmp_path):
    """Raw-corpus ingestion: line mode = one row per line; whole_text =
    one row per file."""
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("hello world\nsecond line\n")
    (d / "b.txt").write_text("single doc body\n")
    lines = readers.read_text(spark, str(d))
    assert sorted(r.value for r in lines.collect()) == [
        "hello world", "second line", "single doc body",
    ]
    whole = readers.read_text(spark, str(d), whole_text=True)
    assert whole.count() == 2
    assert any("second line" in r.value for r in whole.collect())


def test_ppm_binaryfile_pipeline_end_to_end(engine, tmp_path):
    """B26 round-4 integration: disk PPM files → binaryFile source →
    typed media meta → REAL default decode — the full multimodal
    ingestion path with no stub anywhere in the loop."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import attach_media_meta

    (tmp_path / "imgs").mkdir()
    dims = {"a": (4, 6), "b": (8, 2), "c": (5, 5)}
    for name, (h, w) in dims.items():
        img = np.full((h, w, 3), ord(name) % 251, dtype=np.uint8)
        (tmp_path / "imgs" / f"{name}.ppm").write_bytes(codecs.encode_ppm(img))

    df = readers.read_binary_files(engine.spark, str(tmp_path / "imgs"), glob="*.ppm")
    meta = attach_media_meta(df, "content", uri_col="path", media_type="image/x-portable-pixmap")
    assert meta.filter(F.col("media_meta.media_type") == "image/x-portable-pixmap").count() == 3

    feats = extract_media_features(meta, "path", "content")
    got = {r["key"].rsplit("/", 1)[-1]: (r["height"], r["width"]) for r in feats.collect()}
    assert got == {f"{n}.ppm": hw for n, hw in dims.items()}


def test_zordered_write_narrows_both_dimensions(spark, sf_dir, tmp_path):
    """A18 z-order: each output file covers a narrow region of BOTH
    clustered columns at once — the multi-column file-skipping property
    single-key clustering cannot give (its secondary column spans the
    full range in every file). Metric: mean per-file fractional range
    width per dimension; z-order must beat the naive layout decisively
    on both, and roughly evenly (Morton interleaving splits precision
    between dimensions)."""
    import glob

    import pyarrow.parquet as pq

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
    )

    def mean_widths(path):
        spans = {"l_orderkey": [], "l_partkey": []}
        glob_lo = {"l_orderkey": None, "l_partkey": None}
        files = glob.glob(f"{path}/part-*.parquet")
        per_file = []
        for f in files:
            t = pq.read_table(f, columns=["l_orderkey", "l_partkey"])
            row = {}
            for c in spans:
                col = t.column(c).to_pylist()
                if col:
                    row[c] = (min(col), max(col))
            if row:
                per_file.append(row)
        out = {}
        for c in spans:
            glo = min(r[c][0] for r in per_file)
            ghi = max(r[c][1] for r in per_file)
            width = (ghi - glo) or 1
            out[c] = sum((r[c][1] - r[c][0]) / width for r in per_file) / len(per_file)
        return out, len(per_file)

    naive = str(tmp_path / "naive")
    li.repartition(8).write.parquet(naive)
    zord = str(tmp_path / "zord")
    # 16 files = 4 z-bits = both dimensions quartered (a 2-D Morton
    # curve alternates which dimension each extra bit splits)
    writers.write_zordered(li, zord, ["l_orderkey", "l_partkey"], n_files=16)

    wn, _ = mean_widths(naive)
    wz, nfiles = mean_widths(zord)
    assert nfiles > 1
    for c in ("l_orderkey", "l_partkey"):
        assert wn[c] > 0.9, f"naive layout should span ~full {c} range"
        # ideal ≈ 0.25 per dim; range-boundary sampling blurs it
        assert wz[c] < 0.45, f"z-order file width on {c} = {wz[c]:.2f}, want < 0.45"
    # data intact
    assert spark.read.parquet(zord).count() == li.count()


def test_bmp_strict_decode_and_resize_are_real(engine):
    """B26 round-4: the default codecs sniff magic bytes and decode 24bpp
    BMP for real — true dimensions, pixel-stat features, and a resize
    that re-encodes in the ORIGINAL format with correct new dims."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import resize_media

    img = np.zeros((4, 10, 3), dtype=np.uint8)
    img[:, :, 2] = 77  # solid blue channel
    df = engine.spark.createDataFrame(
        [("b1", bytearray(codecs.encode_bmp(img)))], "key string, blob binary"
    )
    r = extract_media_features(df, "key", "blob").collect()[0]
    assert (r["width"], r["height"]) == (10, 4)
    assert abs(r["feature"][2] - 77.0) < 1e-6 and abs(r["feature"][0]) < 1e-6

    out = resize_media(df, "key", "blob", width=5, height=2).collect()[0]
    back = codecs.decode_bmp(bytes(out["media"]))
    assert back.shape == (2, 5, 3) and back[0, 0, 2] == 77


def test_compact_parquet_small_files(engine, tmp_path):
    """Streaming-sink-shaped directory (many tiny files) compacts to the
    target count; rows and values survive; staging swap leaves no
    leftover dirs; below min_files it is a no-op."""
    import glob
    import os

    spark = engine.spark
    dest = str(tmp_path / "sink")
    # 16 micro-batch-sized appends -> 16+ small files
    for i in range(16):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id * 2 AS v"
        ).coalesce(1).write.mode("append").parquet(dest)
    before = glob.glob(os.path.join(dest, "*.parquet"))
    assert len(before) >= 16

    stats = writers.compact_parquet(spark, dest, target_file_bytes=10 * 1024 * 1024)
    after = glob.glob(os.path.join(dest, "*.parquet"))
    assert stats["files_before"] >= 16 and stats["files_after"] == len(after)
    assert len(after) < len(before)
    back = spark.read.parquet(dest)
    assert back.count() == 1600
    assert back.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(1600))
    assert not os.path.exists(dest + ".__compacting")
    assert not os.path.exists(dest + ".__precompact")

    # already-compacted dir: no-op under min_files
    stats2 = writers.compact_parquet(spark, dest, min_files=len(after) + 1)
    assert stats2["files_before"] == stats2["files_after"] == len(after)


def test_xml_roundtrip(engine, tmp_path):
    """Spark 4 native XML datasource: write one element per row, read
    back typed (schema given — inference would widen ints to bigint)."""
    df = _sample(engine.spark)
    path = str(tmp_path / "t.xml")
    writers.write_xml(df, path, row_tag="rec")
    back = readers.read_xml(engine.spark, path, row_tag="rec", schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_avro_gated(engine, tmp_path):
    """spark-avro module absent in this container: the wrapper must
    surface Spark's own data-source error (which names the fix), and
    run for real where the module exists."""
    df = _sample(engine.spark)
    path = str(tmp_path / "t.avro")
    try:
        writers.write_avro(df, path)
        has_avro = True
    except Exception as e:
        has_avro = False
        assert "avro" in str(e).lower()
    if has_avro:  # pragma: no cover - not in this sandbox
        back = readers.read_avro(engine.spark, path)
        assert back.count() == df.count()


def test_xlsx_datasource_distributed(engine, tmp_path):
    """A2 scale path: the Python DataSource reads a DIRECTORY of
    workbooks with one partition per file on the executors (no driver
    loop), inferring the schema from the first file."""
    from etlbigdata_spark.sources import xlsx_datasource

    d = tmp_path / "books"
    d.mkdir()
    for i in range(3):
        with open(d / f"b{i}.xlsx", "wb") as f:
            f.write(_make_xlsx([["store", "amount", "ok"],
                                [f"s{i}", 10 * i + 1, True],
                                [f"s{i}", 1.5, False]]))
    xlsx_datasource.register(engine.spark)
    df = engine.spark.read.format("xlsx").load(str(d))
    assert [f.name for f in df.schema.fields] == ["store", "amount", "ok"]
    # amount mixes int and float -> double; ok is boolean
    assert dict(df.dtypes) == {"store": "string", "amount": "double", "ok": "boolean"}
    assert df.count() == 6
    assert df.rdd.getNumPartitions() == 3  # one per workbook
    assert df.filter(F.col("ok")).count() == 3
    got = {(r.store, r.amount) for r in df.collect()}
    assert (f"s2", 21.0) in got and ("s0", 1.5) in got

    # explicit schema + headerless + sheet options still flow through
    df2 = (engine.spark.read.format("xlsx")
           .schema("a string, b string, c string")
           .option("header", "false")
           .load(str(d / "b0.xlsx")))
    assert df2.count() == 3 and df2.first().a == "store"


def test_compact_parquet_guards(engine, tmp_path):
    """Review fixes: partitioned layouts and streaming-sink logs are
    refused; a leftover crash backup blocks recompaction loudly."""
    import os

    spark = engine.spark
    part = str(tmp_path / "hive")
    spark.range(50).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(part)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        writers.compact_parquet(spark, part)

    sink = str(tmp_path / "sink2")
    spark.range(10).coalesce(1).write.parquet(sink)
    os.makedirs(os.path.join(sink, "_spark_metadata"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        writers.compact_parquet(spark, sink)

    plain = str(tmp_path / "plain")
    for i in range(3):
        spark.range(i, i + 5).coalesce(1).write.mode("append").parquet(plain)
    os.makedirs(plain + ".__precompact")
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        writers.compact_parquet(spark, plain)
    os.rmdir(plain + ".__precompact")
    assert writers.compact_parquet(spark, plain)["files_after"] >= 1

    # ADVICE r5: URI-scheme paths must fail loudly (the local glob/rename
    # machinery would otherwise silently no-op on s3://...), and a missing
    # directory is an error, not a success-shaped zero
    with pytest.raises(NotImplementedError, match="local-filesystem only"):
        writers.compact_parquet(spark, "s3://bucket/table")
    with pytest.raises(NotImplementedError, match="local-filesystem only"):
        writers.compact_parquet(spark, "hdfs://nn/warehouse/t")
    with pytest.raises(FileNotFoundError):
        writers.compact_parquet(spark, str(tmp_path / "does_not_exist"))


def test_xlsx_shared_and_inline_strings_skip_phonetic_runs(engine):
    """Shared-string/rich-text cells must join only <t> and <r><t> runs,
    not phonetic <rPh> hints (furigana) that duplicate the text."""
    import io
    import zipfile

    # hand-build a workbook USING the shared-string table (the fixture
    # writer emits inline strings, so craft this one directly)
    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml",
                    f'<workbook xmlns="{main}" xmlns:r="{rel}"><sheets>'
                    f'<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>')
        zf.writestr("xl/_rels/workbook.xml.rels",
                    f'<Relationships xmlns="{pkg_rel}">'
                    f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
                    "</Relationships>")
        zf.writestr("xl/sharedStrings.xml",
                    f'<sst xmlns="{main}">'
                    "<si><t>Tokyo</t><rPh><t>toukyou</t></rPh></si>"
                    "<si><r><t>ri</t></r><r><t>ch</t></r><rPh><t>nope</t></rPh></si>"
                    "</sst>")
        zf.writestr("xl/worksheets/sheet1.xml",
                    f'<worksheet xmlns="{main}"><sheetData>'
                    '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
                    '<c r="C1" t="inlineStr"><is><t>x</t></is></c></row>'
                    "</sheetData></worksheet>")
    rows = readers._read_xlsx_stdlib(buf.getvalue())
    assert rows == [["Tokyo", "rich", "x"]]


def test_read_excel_non_zip_reraises_engine_error(engine, tmp_path):
    """A non-zip file (e.g. legacy .xls without xlrd) must surface the
    original engine error, not a BadZipFile from the stdlib parser."""
    p = tmp_path / "legacy.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0" + b"\x00" * 64)  # OLE2 magic, not a zip
    with pytest.raises(Exception) as ei:
        readers.read_excel(engine.spark, str(p))
    assert "zip" not in str(ei.value).lower() or "Excel" in str(ei.value)


def test_xlsx_datasource_all_null_column_and_bad_path(engine, tmp_path):
    from etlbigdata_spark.sources import xlsx_datasource

    d = tmp_path / "nulls"
    d.mkdir()
    with open(d / "a.xlsx", "wb") as f:
        f.write(_make_xlsx([["k", "notes"], [1, None], [2, None]]))
    with open(d / "b.xlsx", "wb") as f:
        f.write(_make_xlsx([["k", "notes"], [3, "text survives"]]))
    xlsx_datasource.register(engine.spark)
    df = engine.spark.read.format("xlsx").load(str(d))
    # all-null inference column widens to string, later text survives
    assert dict(df.dtypes)["notes"] == "string"
    assert {r.notes for r in df.collect()} == {None, "text survives"}
    with pytest.raises(Exception, match="no .xlsx files"):
        engine.spark.read.format("xlsx").schema("a string").load(str(tmp_path / "nope")).count()


def test_table_cache_survives_directory_rewrite(engine, tmp_path):
    """ADVICE r5: the workload table cache must not serve a scan over a
    rewritten directory's deleted files — the mtime-in-key scheme makes a
    compaction (or any rewrite that bumps mtime) self-invalidate."""
    import os
    import time

    from etlbigdata_spark import workload

    spark = engine.spark
    sf = str(tmp_path)
    dest = os.path.join(sf, "region.parquet")
    for i in range(3):
        spark.range(i * 2, i * 2 + 2).coalesce(1).write.mode("append").parquet(dest)
    before = workload.load(spark, sf, "region")
    assert before.count() == 6
    time.sleep(1.1)  # coarse-mtime filesystems
    writers.compact_parquet(spark, dest, target_file_bytes=1 << 30)
    after = workload.load(spark, sf, "region")
    assert after is not before  # fresh scan resolved, not the stale listing
    assert after.count() == 6 and after.inputFiles() != before.inputFiles()
    workload.invalidate_table_cache()
    assert workload._TABLE_CACHE == {}


def test_image_ahash_and_near_dups_real_codec(engine):
    """Perceptual image dedup end-to-end on REAL PPM bytes: identical
    bytes hash identically; a lightly-noised copy lands within a few
    bits; an unrelated image sits far; and image_near_dups returns
    exactly the planted near pair via the shared Hamming-band core."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import add_image_ahash, image_near_dups

    rng = np.random.default_rng(42)
    base = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    near = base.copy()
    near[:4, :4] = np.clip(near[:4, :4].astype(int) + 12, 0, 255).astype(np.uint8)
    far = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)

    h_base = codecs.image_ahash(codecs.encode_ppm(base))
    h_same = codecs.image_ahash(codecs.encode_ppm(base.copy()))
    h_near = codecs.image_ahash(codecs.encode_ppm(near))
    h_far = codecs.image_ahash(codecs.encode_ppm(far))
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert h_base == h_same
    assert ham(h_base, h_near) <= 5
    assert ham(h_base, h_far) > 10

    df = engine.spark.createDataFrame(
        [
            ("base", bytearray(codecs.encode_ppm(base))),
            ("near", bytearray(codecs.encode_ppm(near))),
            ("far", bytearray(codecs.encode_ppm(far))),
        ],
        "key string, blob binary",
    )
    hashed = {r["key"]: r["ahash"] for r in add_image_ahash(df, "key", "blob").collect()}
    assert hashed["base"] == h_base and hashed["far"] == h_far

    pairs = image_near_dups(df, "key", "blob", max_hamming=5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("base", "near")}
    assert all(r["hamming"] <= 5 for r in pairs)


def test_image_near_dups_uses_hash_fn(engine):
    """A caller's ``hash_fn`` reaches the image pair finder, directly and
    through ``Engine.near_dup_pairs``: a constant hash pairs every blob,
    and these blobs are not images, so the built-in aHash would raise."""
    from etlbigdata_spark.functions.multimodal import image_near_dups

    df = engine.spark.createDataFrame(
        [(k, bytearray(k.encode())) for k in ("a", "b", "c")], "key string, blob binary"
    )
    want = {("a", "b"), ("a", "c"), ("b", "c")}
    pairs = image_near_dups(df, "key", "blob", max_hamming=0, hash_fn=lambda b: 7)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == want
    via_engine = engine.near_dup_pairs(
        df, method="image", key_col="key", bytes_col="blob", hash_fn=lambda b: 7
    )
    assert {(r["id_a"], r["id_b"]) for r in via_engine.collect()} == want


def test_null_media_blob_yields_no_row(engine):
    """A NULL media cell (a failed fetch, an outer join) yields no output
    row from every per-blob operator instead of aborting the job, and
    the real blobs beside it come through unchanged."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import (
        add_image_ahash,
        image_near_dups,
        resize_media,
        sample_frames,
    )

    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    ppm = bytearray(codecs.encode_ppm(img))
    df = engine.spark.createDataFrame(
        [("a", ppm), ("b", ppm), ("gone", None)], "key string, blob binary"
    )
    real = {"a", "b"}
    keys = lambda out: sorted(r["key"] for r in out.collect())  # noqa: E731
    assert keys(extract_media_features(df, "key", "blob")) == sorted(real)
    assert keys(sample_frames(df, "key", "blob", n_frames=2)) == sorted(real)
    assert keys(resize_media(df, "key", "blob", 3, 2)) == sorted(real)
    hashes = {r["key"]: r["ahash"] for r in add_image_ahash(df, "key", "blob").collect()}
    assert set(hashes) == real and hashes["a"] == codecs.image_ahash(bytes(ppm))
    pairs = image_near_dups(df, "key", "blob", max_hamming=0).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [("a", "b")]


def test_wav_strict_audio_features_real_codec(engine):
    """Default audio path: a synthesized stereo 16-bit PCM sine decodes
    through the stdlib wave codec to exact rate/channels/frames and the
    level statistics an audio-curation gate filters on."""
    import numpy as np

    from etlbigdata_spark.functions import codecs

    rate, dur_s = 8000, 0.5
    t = np.arange(int(rate * dur_s)) / rate
    mono = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    stereo = np.stack([mono, mono], axis=1)
    blob = codecs.encode_wav(rate, stereo)

    r2, nch, samples = codecs.decode_wav(blob)
    assert (r2, nch, samples.shape[0]) == (rate, 2, len(mono))
    assert np.array_equal(samples[:, 0], mono)  # exact roundtrip

    df = engine.spark.createDataFrame([("a1", bytearray(blob))], "key string, blob binary")
    rows = extract_media_features(df, "key", "blob").collect()
    r = rows[0]
    assert (r["width"], r["height"], r["n_frames"]) == (rate, 2, len(mono))
    dur, rms, peak, zcr, dc = r["feature"]
    assert abs(dur - dur_s) < 1e-6
    assert abs(rms - 0.5 / np.sqrt(2)) < 0.01  # sine RMS = A/sqrt(2)
    assert 0.45 < peak <= 0.51
    assert abs(zcr - 2 * 440 / rate) < 0.02  # 2 crossings per cycle
    assert abs(dc) < 1e-3

    # non-media bytes are rejected
    with pytest.raises(Exception):
        codecs.media_features("x", b"not media at all")

    # 8-bit PCM is outside the built-in codec's contract
    with pytest.raises(ValueError):
        codecs.decode_wav(blob[:3] + b"X" + blob[4:])


def test_audio_fphash_and_near_dups_real_codec(engine):
    """Perceptual AUDIO dedup end-to-end on REAL PCM WAV bytes: a
    volume-scaled copy hashes IDENTICALLY (energy deltas are gain-
    invariant by construction), a lightly-noised copy lands within a
    few bits, unrelated audio sits far, and audio_near_dups returns
    exactly the planted near pairs via the shared Hamming-band core."""
    import numpy as np

    from etlbigdata_spark.functions import codecs
    from etlbigdata_spark.functions.multimodal import add_audio_fphash, audio_near_dups

    rng = np.random.default_rng(7)
    t = np.arange(16000) / 16000.0
    # amplitude-modulated tone: frame energies vary, so delta bits carry info
    envelope = 0.2 + 0.8 * np.abs(np.sin(2 * np.pi * 3.0 * t))
    base = (envelope * np.sin(2 * np.pi * 440 * t) * 12000).astype(np.int16)
    gain = (base.astype(np.float64) * 0.5).astype(np.int16)          # -6 dB copy
    noised = (base + rng.normal(0, 120, len(base))).astype(np.int16)  # light noise
    far = (0.7 * np.sin(2 * np.pi * 97 * t + np.cumsum(rng.normal(0, 0.05, len(t)))) * 12000).astype(np.int16)

    wav = lambda s: codecs.encode_wav(16000, s)  # noqa: E731
    h_base = codecs.audio_fphash(wav(base))
    h_gain = codecs.audio_fphash(wav(gain))
    h_noise = codecs.audio_fphash(wav(noised))
    h_far = codecs.audio_fphash(wav(far))
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert h_base == h_gain, "gain invariance is the designed property"
    assert ham(h_base, h_noise) <= 5
    assert ham(h_base, h_far) > 10

    df = engine.spark.createDataFrame(
        [
            ("base", bytearray(wav(base))),
            ("gain", bytearray(wav(gain))),
            ("noise", bytearray(wav(noised))),
            ("far", bytearray(wav(far))),
        ],
        "key string, blob binary",
    )
    hashed = {r["key"]: r["fphash"] for r in add_audio_fphash(df, "key", "blob").collect()}
    assert hashed["base"] == h_base and hashed["far"] == h_far

    pairs = audio_near_dups(df, "key", "blob", max_hamming=5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {("base", "gain"), ("base", "noise"), ("gain", "noise")}
    # the Engine facade routes method="audio" to the same core
    via_engine = engine.near_dup_pairs(df, method="audio", key_col="key", bytes_col="blob")
    assert {(r["id_a"], r["id_b"]) for r in via_engine.collect()} == got


def test_read_parquet_since_lists_only_new_files(engine, tmp_path):
    """modifiedAfter is a LISTING-time filter: only files newer than the
    watermark are read; an empty pickup is an empty frame, not an
    error."""
    import os
    import time

    from etlbigdata_spark.sources import readers

    d = str(tmp_path / "inc")
    engine.spark.createDataFrame([(1, "old")], "id long, v string").coalesce(1).write.parquet(d)
    old_files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    past = time.time() - 3600
    for f in old_files:
        os.utime(os.path.join(d, f), (past, past))
    engine.spark.createDataFrame([(2, "new")], "id long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(d)

    watermark = time.strftime("%Y-%m-%dT%H:%M:%S", time.localtime(past + 60))
    got = readers.read_parquet_since(engine.spark, d, watermark)
    assert [(r.id, r.v) for r in got.collect()] == [(2, "new")]
    future = time.strftime("%Y-%m-%dT%H:%M:%S", time.localtime(time.time() + 3600))
    assert readers.read_parquet_since(engine.spark, d, future).count() == 0
    # full read still sees both rows — the filter is per-call, not sticky
    assert readers.read_parquet(engine.spark, d).count() == 2


def test_read_json_with_quarantine_splits_good_and_bad(engine, tmp_path):
    """Malformed lines land in the quarantine frame as raw text; good
    rows parse under the declared schema; nothing is silently dropped
    (good + bad == input lines)."""
    import pyspark.sql.types as T

    from etlbigdata_spark.sources import readers

    p = tmp_path / "feed.jsonl"
    lines = [
        '{"id": 1, "v": "ok"}',
        '{"id": 2, "v": "also ok"}',
        '{"id": broken not json',
        '[1,2,3]',                       # valid JSON, wrong shape
        '{"id": 4, "v": "fine"}',
    ]
    p.write_text("\n".join(lines))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good, bad = readers.read_json_with_quarantine(engine.spark, str(p), schema)
    good_rows = sorted((r.id, r.v) for r in good.collect())
    bad_rows = sorted(r.raw for r in bad.collect())
    assert good_rows == [(1, "ok"), (2, "also ok"), (4, "fine")]
    assert len(bad_rows) == 2 and any("broken" in b for b in bad_rows)
    assert "_corrupt_record" not in good.columns
    assert len(good_rows) + len(bad_rows) == len(lines)

def test_read_csv_with_quarantine_splits_good_and_bad(engine, tmp_path):
    """CSV dead-letter twin: rows that cannot parse into the declared
    schema (type violation, wrong field count) quarantine as raw text;
    blank fields are valid NULLs, not corruption; nothing is silently
    dropped (good + bad == data lines)."""
    import pyspark.sql.types as T

    from etlbigdata_spark.sources import readers

    p = tmp_path / "feed.csv"
    lines = [
        "id,qty,name",
        "1,10,alpha",
        "2,,beta",            # blank qty -> NULL, still good
        "3,not_a_number,gamma",  # type violation -> quarantine
        "4,40",               # missing field -> quarantine
        "5,50,epsilon",
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("name", T.StringType()),
        ]
    )
    good, bad = readers.read_csv_with_quarantine(engine.spark, str(p), schema)
    good_rows = sorted((r.id, r.qty, r.name) for r in good.collect())
    bad_rows = sorted(r.raw for r in bad.collect())
    assert good_rows == [(1, 10, "alpha"), (2, None, "beta"), (5, 50, "epsilon")]
    assert len(bad_rows) == 2 and any("not_a_number" in b for b in bad_rows)
    assert "_corrupt_record" not in good.columns
    assert len(good_rows) + len(bad_rows) == len(lines) - 1  # minus header
    readers.release_quarantine_caches()


def test_read_csv_with_quarantine_reference_fixture_is_clean(engine):
    """Reference parity: the ref's dirty fixture (data_penjualan.csv,
    rebuilt in tests/fixtures/ from the FIXTURES.md §1 layout - blank
    fields, duplicate rows) parses CLEAN under its natural schema - its
    dirt is data-quality dirt (NULLs, dups), not parse corruption, so
    the quarantine stays empty and no row is lost."""
    from pathlib import Path

    import pyspark.sql.types as T

    from etlbigdata_spark.sources import readers

    schema = T.StructType(
        [
            T.StructField("Transaction_ID", T.StringType()),
            T.StructField("Date", T.DateType()),
            T.StructField("Customer_Name", T.StringType()),
            T.StructField("Product_ID", T.StringType()),
            T.StructField("Region", T.StringType()),
            T.StructField("Quantity", T.IntegerType()),
            T.StructField("Total_Price", T.LongType()),
            T.StructField("Status", T.StringType()),
        ]
    )
    good, bad = readers.read_csv_with_quarantine(
        engine.spark, str(Path(__file__).parent / "fixtures" / "data_penjualan.csv"), schema
    )
    assert bad.count() == 0
    rows = good.collect()
    assert len(rows) > 0
    # the fixture's known dirt arrives as NULLs, ready for A7 fill_nulls
    assert any(r.Quantity is None or r.Region is None for r in rows)
    readers.release_quarantine_caches()
